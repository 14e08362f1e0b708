"""Graph queries over part/supplier edges drawn from lineitem: PageRank
(with and without dangling-mass redistribution), k-core, triangle count
and label-propagation communities, each checked against an unrolled
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


def _pagerank_oracle(damping: float = 0.85, iterations: int = 3) -> str:
    prev = "r0"
    steps = []
    for k in range(1, iterations + 1):
        steps.append(f"""
    r{k} AS (
      SELECT nd.node AS node,
             CAST({1.0 - damping!r} AS DOUBLE) / nn.n
             + CAST({damping!r} AS DOUBLE) * coalesce(s.c, CAST(0 AS DOUBLE)) AS rank
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / d.outdeg) AS c
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg d ON e.src = d.src
        GROUP BY 1
      ) s ON s.node = nd.node
    )""")
        prev = f"r{k}"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS p,
                      's' || CAST(l_suppkey AS VARCHAR) AS s
      FROM lineitem
    ),
    edges AS (
      SELECT p AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, p AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn),{",".join(steps)}
    SELECT node, ROUND(rank * 1e6, 6) AS rank_ppm
    FROM {prev}
    """


@register(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 3 power iterations) over the bipartite
    part↔supplier graph from lineitem — the iterative-algorithm pattern as
    driver-looped joins+aggregates with lineage checkpoints
    (operators/graph.py::pagerank). The oracle unrolls the identical three
    iterations as CTEs; ranks are scaled to parts-per-million and rounded
    so the two engines' summation orders cannot flip the hash."""
    from pontem_spark.functions.compat import rnd
    from pontem_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("p"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    ).distinct()
    edges = pairs.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    # the union above symmetrizes the graph, so every vertex has out-degree
    # ≥ 1 by construction — the dangling-mass probes (one scalar agg per
    # iteration) would sum an empty filter three times for nothing
    ranks = pagerank(edges, damping=0.85, iterations=3, handle_dangling=False)
    return ranks.select(
        "node", rnd(F.col("rank") * 1e6, 6).alias("rank_ppm")
    )


def _pagerank_dangling_oracle(damping: float = 0.85, iterations: int = 3) -> str:
    """Unrolled-CTE oracle for DIRECTED pagerank with the dangling-mass
    redistribution term (operators/graph.py::pagerank handle_dangling)."""
    prev = "r0"
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"""d{i} AS (
        SELECT SUM(rank) AS dm FROM {prev} WHERE NOT has_out
    ), r{i} AS (
        SELECT n.node, n.has_out,
               (1 - {damping}) / (SELECT n FROM cnt)
               + {damping} * (SELECT dm FROM d{i}) / (SELECT n FROM cnt)
               + {damping} * COALESCE(c.contrib, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / e.outdeg) AS contrib
            FROM edges e JOIN {prev} p ON p.node = e.src
            GROUP BY e.dst
        ) c ON c.node = n.node
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH raw AS (
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'p' || CAST(l_partkey AS VARCHAR) AS dst
        FROM lineitem
    ), deg AS (
        SELECT src, COUNT(*) AS outdeg FROM raw GROUP BY src
    ), edges AS (
        SELECT raw.src, raw.dst, deg.outdeg FROM raw JOIN deg ON raw.src = deg.src
    ), nodes AS (
        SELECT node, MAX(has_out) AS has_out FROM (
            SELECT src AS node, TRUE AS has_out FROM raw
            UNION ALL
            SELECT dst AS node, FALSE AS has_out FROM raw
        ) GROUP BY node
    ), cnt AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT node, has_out, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes
    ),
    {chain}
    SELECT node, ROUND(rank * 1e6, 6) AS rank_ppm FROM {prev}
    """


@register("q_graph_pagerank_dangling", _pagerank_dangling_oracle())
def q_graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the genuinely DIRECTED supplier→part graph: every
    part vertex is a sink (out-degree 0), so without the per-iteration
    dangling-mass term (d·S/N) the distribution would leak most of its
    mass. The oracle unrolls the same three iterations WITH the term;
    rank mass conservation means ppm values sum to ~1e6."""
    from pontem_spark.functions.compat import rnd
    from pontem_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    # no query-side .distinct(): pagerank() dedupes its edge input as part
    # of its contract, so a distinct here was a SECOND aggregate shuffle of
    # the same rows back-to-back (r15, guide §2.4 — distinct on data the
    # next operator dedupes anyway)
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    ranks = pagerank(edges, damping=0.85, iterations=3, handle_dangling=True)
    return ranks.select("node", rnd(F.col("rank") * 1e6, 6).alias("rank_ppm"))


@register(
    "q_graph_triangles",
    oracle="""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((
               SELECT COUNT(*)
               FROM pairs e1
               JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
               JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
           ) AS BIGINT) AS triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (parts sharing an
    order — non-complete with real community structure at every SF,
    unlike the supplier graph, which is K_n at small SFs) via
    degree-oriented compact-forward counting
    (operators/graph.py::triangle_count) — the oriented out-degree is
    O(sqrt(E)) so the wedge join is bounded; the oracle counts the same
    triangles with the canonical three-way a<b<c join.

    Pair generation is ONE basket shuffle + map-side expansion (r9: the
    self-join shuffled lineitem twice and measured 2.14s vs 1.47s at
    sf0.1 for the identical pair set; pairs-per-order is C(|basket|,2)
    with TPC-H-ish baskets ≤ 7 lines, so the in-map expansion is bounded
    — same discipline as basket_association_rules)."""
    from pontem_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (u, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "v -> struct(u AS src, v AS dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    # with_edge_count reads |E| off the operator's checkpointed edge set —
    # a separate pairs.agg() branch would re-run the expansion + distinct
    return triangle_count(pairs, with_edge_count=True)


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    # Each round references the previous edge CTE several times; without
    # MATERIALIZED DuckDB inlines the chain multiplicatively (observed:
    # "Too many open files" from hundreds of re-opened parquet scans).
    steps = []
    prev = "e0"
    for r in range(1, rounds + 1):
        steps.append(f"""
    d{r} AS MATERIALIZED (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
      ) GROUP BY 1
    ),
    k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {k}),
    e{r} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT n FROM k{r}) AND v IN (SELECT n FROM k{r})
    )""")
        prev = f"e{r}"
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS u,
                      's' || CAST(l_suppkey AS VARCHAR) AS v
      FROM lineitem WHERE l_quantity >= 48
    ),{",".join(steps)}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
    GROUP BY 1 HAVING COUNT(*) >= {k}
    """


@register("q_graph_kcore", _kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the sparsified (l_quantity >= 48) part↔supplier graph by
    bounded-round iterative peeling (operators/graph.py::k_core). Peeling
    is monotone and idempotent at the fixpoint, so both engines running
    exactly 6 rounds agree whether or not the data converged earlier
    (probed: fixpoint in 2 rounds at sf0.001 and sf0.01); the oracle
    unrolls the identical 6 degree→filter rounds as CTEs."""
    from pontem_spark.operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return k_core(edges, k=3, max_iterations=6)


def _lpa_oracle(iterations: int = 3) -> str:
    steps = []
    prev = "l0"
    for r in range(1, iterations + 1):
        steps.append(f"""
    l{r} AS MATERIALIZED (
      SELECT u AS node, label FROM (
        SELECT e.u, p.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (
                 PARTITION BY e.u ORDER BY COUNT(*) DESC, p.label DESC
               ) AS rn
        FROM sym e JOIN {prev} p ON p.node = e.v
        GROUP BY e.u, p.label
      ) WHERE rn = 1
    )""")
        prev = f"l{r}"
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST('p' || CAST(a.l_partkey AS VARCHAR),
                            'p' || CAST(b.l_partkey AS VARCHAR)) AS u,
                      GREATEST('p' || CAST(a.l_partkey AS VARCHAR),
                               'p' || CAST(b.l_partkey AS VARCHAR)) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_quantity >= 44 AND b.l_quantity >= 44
    ),
    sym AS MATERIALIZED (
      SELECT u, v FROM und UNION SELECT v, u FROM und
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),{",".join(steps)}
    SELECT node, label AS community FROM {prev}
    """


@register("q_graph_communities", _lpa_oracle())
def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (3 synchronous rounds) on the
    sparsified part co-purchase graph (operators/graph.py::
    label_propagation). Fixed-round synchronous LPA is deterministic even
    where the algorithm oscillates — each round is one |E| join + two
    map-side-combinable aggregates with a struct-max (max count, then max
    label) adoption rule the oracle replays with a windowed
    (COUNT DESC, label DESC) pick."""
    from pontem_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 44)
    pairs = (
        li.alias("a")
        .join(
            li.select(
                F.col("l_orderkey").alias("bo"), F.col("l_partkey").alias("bp")
            ).alias("b"),
            (F.col("a.l_orderkey") == F.col("bo"))
            & (F.col("a.l_partkey") < F.col("bp")),
        )
        .select(
            F.concat(F.lit("p"), F.col("a.l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("bp").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(pairs, iterations=3)
