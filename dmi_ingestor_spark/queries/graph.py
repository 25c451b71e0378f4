"""Graph analytics, most of them over the nation trade graph.

The trade graph is built in one place. ``_trade_edges(spark, sf_dir)``
counts ``lineitem ⋈ orders ⋈ broadcast(customer) ⋈ broadcast(supplier)``
per directed ``(src, dst)`` pair (customer nation → supplier nation,
self-loops included); ``_trade_und(spark, sf_dir)`` counts the same join
per unordered pair ``(u, v)``, ``u < v``, self-loops dropped, in one
aggregate. A query adds only its own step to one of the two: drop the
self-loops, drop the weight, or join nation labels.

The graph has at most 25 nodes at any scale factor, so each algorithm
(PageRank, BFS, triangles, centralities, ...) runs over the ≤ 625-row
aggregate in one Python task: ``_summary_kernel(edges, schema, fn)``
hands ``fn`` the rows as tuples of Python ints and builds the result
frame from the tuples ``fn`` returns. Only the edge build is
corpus-scale. ``graph_kcore_decomposition``, ``graph_bom_explosion`` and
``graph_bipartite_projection`` run over part and supplier graphs that
grow with the corpus and stay in Spark.

Design for bit-exact oracle parity of an ITERATIVE float algorithm:
ranks are kept as integers scaled by 1e12 and every update uses only
BIGINT multiply / floor-divide / sum — order-independent and identical
in Spark and DuckDB, so even after K iterations the driver's value-hash
matches exactly. (A double-typed PageRank can never be hash-checked
across engines: grouped double sums are accumulation-order-dependent.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.registry import register

_SCALE = 10**12  # integer rank scale
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as a ratio
_K = 4  # iterations
_SUMMARY_MAX_ROWS = 25 * 25  # |V|² over the fixed 25-nation domain
_KERNEL_DTYPES = {"int": "Int32", "long": "Int64", "string": "object"}


def _trade_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ supplier, both dims broadcast;
    carries ``c_nationkey`` and ``s_nationkey``."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed trade graph ``(src, dst, w)``: lineitem count per
    (customer nation, supplier nation), self-loops included."""
    return (
        _trade_join(spark, sf_dir)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def _trade_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected trade graph ``(u, v, w)``, ``u < v``: lineitem count per
    unordered nation pair, self-loops dropped, in one aggregate."""
    return (
        _trade_join(spark, sf_dir)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def _summary_kernel(edges: DataFrame, schema: str, fn) -> DataFrame:
    """Run ``fn`` once over all of ``edges`` in one Python task.

    ``fn(rows)`` receives every row of ``edges`` as a tuple of Python
    ints in column order (Python ints equal BIGINT arithmetic exactly on
    in-range values; numpy int64 would wrap on the scaled multiplies)
    and returns an iterable of output tuples in ``schema`` order,
    already in the query's final row order, so no sort or exchange
    follows. ``schema`` is a DDL string of ``int``, ``long`` and ``string``
    columns; each column is built as a pandas ``Int32``, ``Int64`` or
    ``object`` array, so ``None`` becomes NULL and an ``int`` value out
    of range raises instead of wrapping.

    ``edges`` must be summary-sized: a nation-level aggregate has at
    most |V|² = 625 rows at any scale factor, and a larger input raises
    ``ValueError`` in the task rather than pulling a corpus-scale
    relation into one worker.
    """
    # parsed on the driver, so a column type the kernel cannot build
    # fails when the query is built, not inside a task
    cols = [
        (name, _KERNEL_DTYPES[dtype])
        for name, dtype in (col.split() for col in schema.split(","))
    ]

    def run(batches):
        import pandas as pd

        rows = []
        for pdf in batches:
            rows += zip(*(pdf[c].tolist() for c in pdf.columns))
            if len(rows) > _SUMMARY_MAX_ROWS:
                raise ValueError(
                    f"summary kernel input has {len(rows)} rows, over its "
                    f"{_SUMMARY_MAX_ROWS}-row bound"
                )
        out = list(fn([tuple(int(x) for x in row) for row in rows]))
        yield pd.DataFrame(
            {
                name: pd.array([row[i] for row in out], dtype=dtype)
                for i, (name, dtype) in enumerate(cols)
            }
        )

    return edges.coalesce(1).mapInPandas(run, schema)


def _kept_filter(rows):
    """Above-mean sparsification: the ``(a, b)`` pairs of ``(a, b, w)``
    rows with w·|E| ≥ Σw, sorted (the oracles' integer cross-compare
    against a one-row total)."""
    tot = sum(w for _, _, w in rows)
    ne = len(rows)
    return sorted((a, b) for a, b, w in rows if w * ne >= tot)


def _strong_adjacency(rows):
    """Shared closeness/betweenness sparsification: keep unordered pairs
    with above-mean weight, symmetrize."""
    strong = _kept_filter(rows)
    und = strong + [(v, u) for u, v in strong]
    nodes = sorted({u for u, _ in und})
    adj: dict[int, list[int]] = {}
    for u, v in und:
        adj.setdefault(u, []).append(v)
    return nodes, adj


def _bfs_capped(nodes, adj, k):
    """Hop distances from every source, capped at k hops — exactly the
    k synchronous min-plus relaxation rounds this replaces (a pair is
    in the map iff its round-k distance was < the INF sentinel)."""
    dist: dict[int, dict[int, int]] = {}
    for s in nodes:
        d = {s: 0}
        frontier = [s]
        for depth in range(1, k + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in d:
                        d[v] = depth
                        nxt.append(v)
            frontier = nxt
        dist[s] = d
    return dist


def _duck_oracle() -> str:
    """Unrolled K-iteration PageRank as a DuckDB CTE chain."""
    base = _SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN
    parts = [
        f"""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(w) AS out_w FROM edges GROUP BY src
    ), e AS (
      SELECT edges.src, edges.dst, edges.w, outw.out_w
      FROM edges JOIN outw ON edges.src = outw.src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst FROM edges
    ), r0 AS (
      SELECT node, CAST({_SCALE} AS BIGINT) AS rank FROM nodes
    )"""
    ]
    for k in range(_K):
        parts.append(
            f""", c{k} AS (
      SELECT e.dst AS node, SUM((r{k}.rank * e.w) // e.out_w) AS contrib
      FROM e JOIN r{k} ON e.src = r{k}.node
      GROUP BY e.dst
    ), r{k + 1} AS (
      SELECT nodes.node,
             CAST({base} + ({_DAMP_NUM} * COALESCE(c{k}.contrib, 0))
                  // {_DAMP_DEN} AS BIGINT) AS rank
      FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS nationkey, rank AS rank_scaled FROM r{_K}"""
    )
    return "".join(parts)


@register(
    "graph_pagerank_trade",
    oracle=_duck_oracle(),
    doc=(
        "Weighted PageRank (damping 0.85, 4 iterations) over the "
        "customer-nation -> supplier-nation trade graph. Edge weights "
        "come from the full lineitem⋈orders⋈customer⋈supplier join "
        "(the 100 TB stage — dims broadcast, one fact-fact shuffle); "
        "the iteration itself runs on the |V|²-bounded aggregate in "
        "one Arrow summary kernel (round-9 rewrite: K broadcast-join "
        "rounds were pure scheduler fixed cost). All-integer scaled "
        "arithmetic (1e12) keeps K rounds of updates bit-identical to "
        "the DuckDB oracle's unrolled CTE chain — a hash-green "
        "ITERATIVE algorithm, like the connected-components operator."
    ),
    tags=("graph", "iterative", "pagerank", "scale"),
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        outw: dict[int, int] = {}
        nodes: set[int] = set()
        for src, dst, w in rows:
            outw[src] = outw.get(src, 0) + w
            nodes.add(src)
            nodes.add(dst)
        base = _SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN
        rank = {n: _SCALE for n in nodes}
        for _ in range(_K):
            contrib: dict[int, int] = {}
            for src, dst, w in rows:
                contrib[dst] = contrib.get(dst, 0) + (rank[src] * w) // outw[src]
            rank = {
                n: base + (_DAMP_NUM * contrib.get(n, 0)) // _DAMP_DEN
                for n in nodes
            }
        return sorted(rank.items())

    return _summary_kernel(
        _trade_edges(spark, sf_dir), "nationkey int, rank_scaled long", kernel
    )


# --------------------------------------------------------------------------
# Triangle counting with degree ordering (the MapReduce-classic idiom).
# --------------------------------------------------------------------------

_TRI_EDGE_SQL = """
    dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY src, dst
    ),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
             SUM(w) AS w
      FROM dir_e WHERE src <> dst
      GROUP BY u, v
    ),
    tot AS (SELECT COUNT(*) AS n_e, SUM(w) AS sum_w FROM und),
    kept AS MATERIALIZED (
      SELECT u, v FROM und CROSS JOIN tot WHERE w * n_e >= sum_w
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM kept UNION ALL SELECT v FROM kept
      ) GROUP BY node
    ),
    oriented AS MATERIALIZED (
      SELECT CASE WHEN (du.d, k.u) < (dv.d, k.v) THEN k.u ELSE k.v END AS a,
             CASE WHEN (du.d, k.u) < (dv.d, k.v) THEN k.v ELSE k.u END AS b
      FROM kept k
      JOIN deg du ON du.node = k.u
      JOIN deg dv ON dv.node = k.v
    )
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_TRI_EDGE_SQL},
    o2 AS MATERIALIZED (
      SELECT o.a, o.b, d1.d AS da, d2.d AS db
      FROM oriented o
      JOIN deg d1 ON d1.node = o.a JOIN deg d2 ON d2.node = o.b
    ),
    tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM o2 e1 JOIN o2 e2
        ON e2.a = e1.a AND (e2.db, e2.b) > (e1.db, e1.b)
      WHERE EXISTS (
        SELECT 1 FROM oriented c WHERE c.a = e1.b AND c.b = e2.b
      )
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    GROUP BY node
    """,
    doc=(
        "Per-node triangle counts over the above-average-weight "
        "undirected nation co-trade graph, via DEGREE ORDERING: every "
        "edge is oriented from its lower-(degree, id) endpoint, wedges "
        "are enumerated only at each triangle's lowest-degree apex, "
        "and a semi-join on the closing oriented edge confirms the "
        "triangle — each found exactly once. This is the MR-classic "
        "idiom (Suri & Vassilvitskii 2011): wedge count is bounded by "
        "Σ min-degree² instead of Σ degree², which is what keeps "
        "hub-heavy 100 TB graphs from exploding at the wedge join; "
        "the edge build is the one corpus-scale stage, and since round 10 "
        "the degree-ordered enumeration itself runs in one Arrow summary "
        "kernel over the |V|²-bounded aggregate (above-mean w·|E| ≥ Σw "
        "sparsification included) — integers end to end."
    ),
    tags=("graph", "triangles", "scale"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 kernelization: everything past the |V|²-bounded
    # undirected aggregate — sparsification, degree build, the two
    # orientation joins, the wedge self-join and the closing semi-join
    # (plus an eager checkpoint and two caches holding the tiny
    # relations still) — is one Python pass in _tri_node_counts; the
    # degree-ordered enumeration is preserved verbatim so each triangle
    # is found exactly once
    def kernel(rows):
        _deg, tcount = _tri_node_counts(rows)
        return sorted(tcount.items())

    return _summary_kernel(
        _trade_und(spark, sf_dir), "node int, n_triangles long", kernel
    )


def _tri_node_counts(rows):
    """(degree, per-node triangle count) of the above-mean-weight
    undirected graph — the in-kernel twin of the old _tri_decomposition
    DataFrame pipeline (shared by graph_triangle_count and
    graph_clustering_coefficient so both enumerate the identical
    degree-ordered wedge set): orient each kept edge from its lower
    (degree, id) endpoint, enumerate wedges at the lowest apex with the
    (degree, id)-ordered leg pair, confirm the closing oriented edge."""
    kept = _kept_filter(rows)
    deg: dict[int, int] = {}
    for u, v in kept:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    oriented: dict[int, list[int]] = {}
    oset: set[tuple[int, int]] = set()
    for u, v in kept:
        a, b = (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
        oriented.setdefault(a, []).append(b)
        oset.add((a, b))
    tcount: dict[int, int] = {}
    for a, outs in oriented.items():
        for y in outs:
            for z in outs:
                if (deg[z], z) > (deg[y], y) and (y, z) in oset:
                    for node in (a, y, z):
                        tcount[node] = tcount.get(node, 0) + 1
    return deg, tcount


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_TRI_EDGE_SQL},
    o2 AS MATERIALIZED (
      SELECT o.a, o.b, d1.d AS da, d2.d AS db
      FROM oriented o
      JOIN deg d1 ON d1.node = o.a JOIN deg d2 ON d2.node = o.b
    ),
    tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM o2 e1 JOIN o2 e2
        ON e2.a = e1.a AND (e2.db, e2.b) > (e1.db, e1.b)
      WHERE EXISTS (
        SELECT 1 FROM oriented c WHERE c.a = e1.b AND c.b = e2.b
      )
    ),
    pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t
      FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      )
      GROUP BY node
    )
    SELECT deg.node AS nationkey,
           deg.d AS degree,
           CAST(COALESCE(pernode.t, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN deg.d >= 2 THEN
             round(2.0 * COALESCE(pernode.t, 0) / (deg.d * (deg.d - 1)), 9)
           ELSE 0.0 END AS DOUBLE) AS clustering_coef
    FROM deg LEFT JOIN pernode ON pernode.node = deg.node
    """,
    doc=(
        "Local clustering coefficient per node: c(v) = 2T(v)/(d(v)(d(v)-1)) "
        "over the same above-mean-weight undirected nation co-trade graph "
        "as graph_triangle_count — in fact both queries share one "
        "edge build (_trade_und) and one degree-ordered wedge "
        "enumeration (_tri_node_counts), which yields each node's "
        "degree and triangle count in the same summary kernel. The single "
        "double division happens after both operands are exact BIGINTs "
        "and is rounded to 9 dp, far coarser than its ulp — hash-safe "
        "across engines."
    ),
    tags=("graph", "triangles", "scale"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 kernelization: shares _tri_node_counts with
    # graph_triangle_count (the old _tri_decomposition pipeline in one
    # Python pass); the integer (degree, triangles) pairs come out of
    # the kernel and the single float division + round(.,9) STAYS a
    # Spark expression, so rounding semantics are untouched
    def kernel(rows):
        deg, tcount = _tri_node_counts(rows)
        return [(n, d, tcount.get(n, 0)) for n, d in sorted(deg.items())]

    counts = _summary_kernel(
        _trade_und(spark, sf_dir),
        "nationkey int, degree long, n_triangles long",
        kernel,
    )
    return counts.select(
        "nationkey",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("clustering_coef"),
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (synchronous, K rounds)
# ---------------------------------------------------------------------------

_LP_K = 3


def _lp_oracle() -> str:
    """Unrolled K-round synchronous label propagation as a CTE chain."""
    parts = [
        """
    WITH dedges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY src, dst
    ), und AS MATERIALIZED (
      SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT src, dst, w FROM dedges WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM dedges WHERE src <> dst
      ) GROUP BY src, dst
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM und
    ), l0 AS MATERIALIZED (
      SELECT node, node AS label FROM nodes
    )"""
    ]
    for k in range(_LP_K):
        parts.append(
            f""", t{k} AS MATERIALIZED (
      SELECT und.dst AS node, l{k}.label AS label, SUM(und.w) AS wsum
      FROM und JOIN l{k} ON und.src = l{k}.node
      GROUP BY und.dst, l{k}.label
    ), m{k} AS MATERIALIZED (
      SELECT node, MAX(wsum) AS mw FROM t{k} GROUP BY node
    ), n{k} AS MATERIALIZED (
      SELECT t.node, MIN(t.label) AS label
      FROM t{k} t JOIN m{k} m ON t.node = m.node AND t.wsum = m.mw
      GROUP BY t.node
    ), l{k + 1} AS MATERIALIZED (
      SELECT nodes.node, COALESCE(n{k}.label, l{k}.label) AS label
      FROM nodes
      JOIN l{k} ON nodes.node = l{k}.node
      LEFT JOIN n{k} ON nodes.node = n{k}.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS nationkey, label AS community FROM l{_LP_K}"""
    )
    return "".join(parts)


@register(
    "graph_label_propagation",
    oracle=_lp_oracle(),
    doc=(
        "Community detection by SYNCHRONOUS label propagation "
        "(Raghavan et al. 2007), 3 rounds over the undirected "
        "nation-trade graph: every node adopts the label with the "
        "largest total incident edge weight among its neighbours, "
        "ties broken by smallest label — fully deterministic, so "
        "even the iteration is hash-green against the oracle's "
        "unrolled CTE chain. Same scale shape as PageRank/connected "
        "components: the expensive stage is the one fact-join edge "
        "build; the K rounds run in one Arrow summary kernel over the "
        "|V|^2-bounded aggregate (round-9 rewrite of the per-round "
        "broadcast-join chain). The max-then-argmin update is all "
        "BIGINT."
    ),
    tags=("graph", "iterative", "communities", "scale"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        und: dict[tuple[int, int], int] = {}
        for src, dst, w in rows:
            und[(src, dst)] = und.get((src, dst), 0) + w
            und[(dst, src)] = und.get((dst, src), 0) + w
        nodes = sorted({u_ for u_, _ in und})
        labels = {n: n for n in nodes}
        for _ in range(_LP_K):
            t: dict[tuple[int, int], int] = {}
            for (src, dst), w in und.items():
                key = (dst, labels[src])
                t[key] = t.get(key, 0) + w
            mw: dict[int, int] = {}
            for (node, _), wsum in t.items():
                if wsum > mw.get(node, -1):
                    mw[node] = wsum
            new: dict[int, int] = {}
            for (node, label), wsum in t.items():
                if wsum == mw[node] and label < new.get(node, 10**9):
                    new[node] = label
            labels = {n: new.get(n, labels[n]) for n in nodes}
        return [(n, labels[n]) for n in nodes]

    dedges = _trade_edges(spark, sf_dir).where(F.col("src") != F.col("dst"))
    return _summary_kernel(dedges, "nationkey int, community int", kernel)


# ---------------------------------------------------------------------------
# BFS shortest hop distance (min-plus relaxation, K rounds)
# ---------------------------------------------------------------------------

_BFS_K = 4
_BFS_SRC = 0
_BFS_INF = 999


def _bfs_oracle() -> str:
    """Unrolled K-round min-plus BFS as a CTE chain."""
    parts = [
        f"""
    WITH dedges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY src, dst
    ), und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dedges WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM dedges WHERE src <> dst
      )
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM und
    ), d0 AS MATERIALIZED (
      SELECT node,
             CASE WHEN node = {_BFS_SRC} THEN 0 ELSE {_BFS_INF} END AS dist
      FROM nodes
    )"""
    ]
    for k in range(_BFS_K):
        parts.append(
            f""", r{k} AS (
      SELECT und.dst AS node, MIN(d{k}.dist + 1) AS reach
      FROM und JOIN d{k} ON und.src = d{k}.node
      GROUP BY und.dst
    ), d{k + 1} AS (
      SELECT d{k}.node,
             CAST(LEAST(d{k}.dist, COALESCE(r{k}.reach, {_BFS_INF}))
                  AS BIGINT) AS dist
      FROM d{k} LEFT JOIN r{k} ON d{k}.node = r{k}.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS nationkey, dist AS hops FROM d{_BFS_K}
    WHERE dist < {_BFS_INF}"""
    )
    return "".join(parts)


@register(
    "graph_bfs_shortest_hops",
    oracle=_bfs_oracle(),
    doc=(
        "Single-source shortest hop distances by synchronous min-plus "
        "relaxation (distributed BFS), 4 rounds over the undirected "
        "nation-trade graph from nation 0 — the reachability/radius "
        "primitive under fraud rings, dependency closures, social "
        "degrees. Same summary contract as the label-propagation "
        "family: edge build is the only fact-scale stage; the capped "
        "relaxation runs in one Arrow summary kernel over the "
        "|V|^2-bounded aggregate (round-9 rewrite of the per-round "
        "join + checkpoint chain). All-integer distances, "
        "hash-green against the unrolled-CTE oracle."
    ),
    tags=("graph", "iterative", "bfs", "scale"),
)
def graph_bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(pairs):
        sym = set(pairs) | {(v_, u_) for u_, v_ in pairs}
        nodes = sorted({u_ for u_, _ in sym})
        adj: dict[int, list[int]] = {}
        for u_, v_ in sym:
            adj.setdefault(u_, []).append(v_)
        if _BFS_SRC in adj:
            d = _bfs_capped([_BFS_SRC], adj, _BFS_K)[_BFS_SRC]
        else:
            d = {_BFS_SRC: 0} if _BFS_SRC in set(nodes) else {}
        return sorted(d.items())

    dedges = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    return _summary_kernel(dedges, "nationkey int, hops long", kernel)


# ---------------------------------------------------------------------------
# Degree distribution of the trade graph (graph observability)
# ---------------------------------------------------------------------------


@register(
    "graph_degree_distribution",
    oracle="""
    WITH dedges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY src, dst
    ),
    und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dedges WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM dedges WHERE src <> dst
      )
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM und GROUP BY src
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
    doc=(
        "Degree distribution of the undirected trade graph — the "
        "first thing to look at before running any graph algorithm "
        "(hub detection feeds the salting/skew decisions the "
        "triangle-count and LP operators make). Edge build is the "
        "one fact-scale stage; degree and histogram run in one Arrow "
        "summary kernel over the |V|²-bounded distinct aggregate "
        "(round 10). Completes the graph family's "
        "observability next to profile_skew_keys' join-key view."
    ),
    tags=("graph", "profiling", "scale"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 kernelization (same argument as the iterative kernels):
    # everything past the |V|²-bounded edge aggregate — the
    # symmetrize-distinct, degree count and histogram, i.e. two more
    # exchanges + a sort — is pure integer counting over ≤ 600 rows
    def kernel(pairs):
        und = set()
        for src, dst in pairs:
            und.add((src, dst))
            und.add((dst, src))
        deg: dict[int, int] = {}
        for src, _ in und:
            deg[src] = deg.get(src, 0) + 1
        hist: dict[int, int] = {}
        for d in deg.values():
            hist[d] = hist.get(d, 0) + 1
        return sorted(hist.items())

    dedges = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    return _summary_kernel(dedges, "degree long, n_nodes long", kernel)


# --------------------------------------------------------------------------
# HITS hubs & authorities (integer-scaled, unrolled, fixed rescale)
# --------------------------------------------------------------------------

_HITS_S = 10**9  # score scale: survives the ~|V|x per-round decay of fixed rescale
_HITS_W = 10**6  # per-graph normalized edge weight scale
_HITS_OUT = 10**5  # final presentation scale (normalized by max once)


def _hits_oracle() -> str:
    head = f"""
    WITH edges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ), wt AS (SELECT SUM(w) AS w_total FROM edges),
    e AS MATERIALIZED (
      SELECT src, dst, (w * {_HITS_W}) // wt.w_total AS wn
      FROM edges CROSS JOIN wt
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e
    ),
    h0 AS (SELECT node, CAST({_HITS_S} AS BIGINT) AS h FROM nodes)"""
    rounds = []
    for k in range(2):
        rounds.append(
            f""", a{k + 1} AS MATERIALIZED (
      SELECT n.node, COALESCE(r.a, 0) AS a FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(e.wn * h{k}.h) // {_HITS_W} AS a
        FROM e JOIN h{k} ON e.src = h{k}.node GROUP BY e.dst
      ) r ON n.node = r.node
    ), h{k + 1} AS MATERIALIZED (
      SELECT n.node, COALESCE(r.h, 0) AS h FROM nodes n LEFT JOIN (
        SELECT e.src AS node, SUM(e.wn * a{k + 1}.a) // {_HITS_W} AS h
        FROM e JOIN a{k + 1} ON e.dst = a{k + 1}.node GROUP BY e.src
      ) r ON n.node = r.node
    )"""
        )
    tail = f"""
    SELECT n.node AS nationkey,
           CAST((h2.h * {_HITS_OUT}) // (SELECT MAX(h) FROM h2) AS BIGINT)
             AS hub_scaled,
           CAST((a2.a * {_HITS_OUT}) // (SELECT MAX(a) FROM a2) AS BIGINT)
             AS auth_scaled
    FROM nodes n
    JOIN h2 ON n.node = h2.node JOIN a2 ON n.node = a2.node
    ORDER BY nationkey"""
    return head + "".join(rounds) + tail


@register(
    "graph_hits_scores",
    oracle=_hits_oracle(),
    doc=(
        "HITS hubs-and-authorities over the directed nation trade "
        "graph (customer-nation buys from supplier-nation), 2 "
        "mutual-reinforcement rounds. Authority pull and hub push are "
        "grouped integer sums on the aggregated |V|x|V|-bounded "
        "graph, both rounds fused into one Arrow summary kernel "
        "(round-9 rewrite — the broadcast-join round chain was pure "
        "scheduler fixed cost); every round rescales by the FIXED "
        "edge-weight scale (floor-div by 1e6) instead of a per-round "
        "max aggregate — HITS scores are defined up to scale. "
        "Max-normalization to "
        "1e5 happens once at the end for presentation. All-integer "
        "scaled arithmetic = bit-exact vs the unrolled CTE oracle, "
        "like graph_pagerank_trade. Scale shape: the only corpus-"
        "sized work is the edge build (fact-fact join, dims "
        "broadcast); K rounds touch only the nation-level summary."
    ),
    tags=("graph", "iterative", "scale"),
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        w_total = sum(w for _, _, w in rows)
        e = [(src, dst, (w * _HITS_W) // w_total) for src, dst, w in rows]
        nodes = sorted({src for src, _, _ in e} | {dst for _, dst, _ in e})
        h = {n: _HITS_S for n in nodes}
        a = {}
        for _ in range(2):
            acc: dict[int, int] = {}
            for src, dst, wn in e:
                acc[dst] = acc.get(dst, 0) + wn * h[src]
            a = {n: acc.get(n, 0) // _HITS_W for n in nodes}
            acc = {}
            for src, dst, wn in e:
                acc[src] = acc.get(src, 0) + wn * a[dst]
            h = {n: acc.get(n, 0) // _HITS_W for n in nodes}
        hmx = max(h.values(), default=0)
        amx = max(a.values(), default=0)
        return [
            (
                n,
                (h[n] * _HITS_OUT) // hmx if hmx else None,
                (a[n] * _HITS_OUT) // amx if amx else None,
            )
            for n in nodes
        ]

    edges = _trade_edges(spark, sf_dir).where(F.col("src") != F.col("dst"))
    return _summary_kernel(
        edges, "nationkey int, hub_scaled long, auth_scaled long", kernel
    )


# --------------------------------------------------------------------------
# Link prediction: Jaccard + resource-allocation over common neighbors
# --------------------------------------------------------------------------

_LP_S = 10**12


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    und0 AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
      FROM dir_e GROUP BY u, v
    ),
    tot AS (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM und0),
    und AS MATERIALIZED (
      SELECT u, v FROM und0 CROSS JOIN tot WHERE w * ne >= tw
    ),
    nbr AS MATERIALIZED (
      SELECT u AS node, v AS nb FROM und
      UNION ALL SELECT v, u FROM und
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM nbr GROUP BY node),
    wedge AS (
      SELECT n1.nb AS a, n2.nb AS b, n1.node AS z
      FROM nbr n1 JOIN nbr n2 ON n1.node = n2.node AND n1.nb < n2.nb
    ),
    cand AS (
      SELECT w.a, w.b,
             COUNT(*) AS cn,
             SUM({_LP_S} // dz.d) AS ra_scaled
      FROM wedge w JOIN deg dz ON w.z = dz.node
      WHERE NOT EXISTS (
        SELECT 1 FROM und WHERE und.u = w.a AND und.v = w.b
      )
      GROUP BY w.a, w.b
    )
    SELECT c.a, c.b,
           CAST(c.cn AS BIGINT) AS common_neighbors,
           CAST(da.d + db.d - c.cn AS BIGINT) AS union_neighbors,
           CAST((c.cn * {_LP_S}) // (da.d + db.d - c.cn) AS BIGINT)
             AS jaccard_scaled,
           CAST(c.ra_scaled AS BIGINT) AS ra_scaled
    FROM cand c
    JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node
    ORDER BY a, b
    """,
    doc=(
        "Link prediction on the undirected nation co-trade graph: for "
        "every NON-adjacent pair with at least one common neighbor, "
        "Jaccard neighbor overlap and the resource-allocation index "
        "(sum of 1/deg over common neighbors) as 1e12-scaled integers "
        "— both classic similarity-based link predictors, bit-exact "
        "from pure integer arithmetic. Candidate pairs come from "
        "WEDGE enumeration (neighbor pairs a < b around each shared "
        "center), so cost is sum(deg^2) over the aggregated graph — "
        "never all-pairs over vertices — and existing edges are "
        "skipped. The same candidates-by-wedge shape the triangle "
        "counter uses, here producing the complement set, all in one "
        "summary kernel over the undirected aggregate. The graph is "
        "sparsified to above-mean-weight edges first (integer "
        "w·|E| ≥ Σw, _kept_filter), so the prediction target is the "
        "meaningful missing-strong-tie set, not the complement of a "
        "complete graph."
    ),
    tags=("graph", "link-prediction", "scale"),
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 kernelization: sparsification, adjacency build, wedge
    # self-join, existing-edge anti-join, and the three degree joins
    # all ran over the ≤ 300-row summary (with a cache + a lazy
    # checkpoint to hold it still) — one Python pass over sets/dicts.
    # All-integer arithmetic; every div operand is non-negative so
    # Python // equals Spark's truncating div.
    def kernel(rows):
        # above-mean sparsification keeps a non-adjacent candidate set
        # at every SF (the co-trade graph saturates when dense)
        und = set(_kept_filter(rows))
        nbrs: dict[int, list[int]] = {}
        deg: dict[int, int] = {}
        for u, v in und:
            nbrs.setdefault(u, []).append(v)
            nbrs.setdefault(v, []).append(u)
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        cn: dict[tuple[int, int], int] = {}
        ra: dict[tuple[int, int], int] = {}
        for z, nb in nbrs.items():
            share = _LP_S // deg[z]
            for i in range(len(nb)):
                for j in range(len(nb)):
                    a_, b_ = nb[i], nb[j]
                    if a_ < b_ and (a_, b_) not in und:
                        cn[(a_, b_)] = cn.get((a_, b_), 0) + 1
                        ra[(a_, b_)] = ra.get((a_, b_), 0) + share
        out = []
        for a_, b_ in sorted(cn):
            n_common = cn[(a_, b_)]
            n_union = deg[a_] + deg[b_] - n_common
            out.append(
                (
                    a_,
                    b_,
                    n_common,
                    n_union,
                    (n_common * _LP_S) // n_union,
                    ra[(a_, b_)],
                )
            )
        return out

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "a int, b int, common_neighbors long, union_neighbors long, "
        "jaccard_scaled long, ra_scaled long",
        kernel,
    )


# --------------------------------------------------------------------------
# k-core decomposition: iterative peeling on the co-purchase graph
# --------------------------------------------------------------------------

_KCORE_K = 90
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    parts = [
        """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
    ]
    for r in range(_KCORE_ROUNDS):
        parts.append(
            f""", d{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
      ) GROUP BY node
    ), s{r} AS MATERIALIZED (
      SELECT node FROM d{r} WHERE d >= {_KCORE_K}
    ), e{r + 1} AS MATERIALIZED (
      SELECT u, v FROM e{r}
      WHERE u IN (SELECT node FROM s{r}) AND v IN (SELECT node FROM s{r})
    )"""
        )
    selects = []
    for r in range(_KCORE_ROUNDS):
        selects.append(
            f"""
    SELECT {r} AS round,
           CAST((SELECT COUNT(*) FROM s{r}) AS BIGINT) AS n_survivors,
           CAST((SELECT COUNT(*) FROM e{r + 1}) AS BIGINT) AS n_edges,
           CAST(COALESCE((SELECT SUM(node) FROM s{r}), 0) AS BIGINT)
             AS node_checksum"""
        )
    return "".join(parts) + " UNION ALL ".join(selects) + " ORDER BY round"


@register(
    "graph_kcore_decomposition",
    oracle=_kcore_oracle(),
    doc=(
        "k-core decomposition (k=90, 3 peel rounds) of the part "
        "co-purchase graph — the density filter community/spam "
        "pipelines run before clustering: repeatedly drop nodes of "
        "degree < k and re-induce, until only the mutually-dense core "
        "remains. Degrees are maintained INCREMENTALLY (round-5 "
        "rewrite, VERDICT r4 item 5): the full edge relation is "
        "degree-counted ONCE, then each peel round shuffles only the "
        "edges incident to that round's removed set — the loss edges "
        "— and decrements survivor degrees via a broadcast join, so "
        "per-round cost is O(|E_removed|) not O(|E|) (the delta "
        "peeling step of Montresor et al.'s distributed k-core; the "
        "removed set shrinks geometrically after round 0). Exact "
        "k-core needs the cascade; this pins 3 unrolled rounds so the "
        "iterative computation stays hash-checkable. The edge build "
        "is the corpus-sized stage: a per-order self-join bounded by "
        "lines-per-order squared, never parts squared. Output is the "
        "per-round (survivors, edges, checksum) trace, so shrinkage "
        "across rounds — the actual peeling dynamics — is what gets "
        "hash-checked."
    ),
    tags=("graph", "iterative", "kcore", "scale"),
)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2"))
    e = (
        a.join(b, "k")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .distinct()
    )
    # Lineage discipline (r4): each peel round localCheckpoints its
    # state so the unrolled loop's logical plan stays O(1) per round
    # instead of compounding (same hazard class operators/components.py
    # fixed with per-round checkpoints).
    #
    # Incremental peeling (r5): `deg` — exact degree in the CURRENT
    # induced graph — is computed from the full edge relation exactly
    # once; every later round touches only the removed set's incident
    # edges. `removed` (nodes with d < k, the shrinking set) drives
    # broadcast anti-joins to induce e_next and a broadcast semi-join
    # to collect loss edges, whose per-survivor counts decrement `deg`
    # map-side. Zero full-edge shuffles after round 0.
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    rows = []
    for r in range(_KCORE_ROUNDS):
        removed = (
            deg.filter(F.col("d") < _KCORE_K).select("node").localCheckpoint(eager=True)
        )
        surv_deg = deg.join(F.broadcast(removed), "node", "left_anti")
        e_next = (
            e.join(F.broadcast(removed.withColumnRenamed("node", "u")), "u", "left_anti")
            .join(F.broadcast(removed.withColumnRenamed("node", "v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        # Loss edges: every current edge with at least one removed
        # endpoint, attributed to the OTHER endpoint. Counting toward a
        # node that is itself removed is harmless — surv_deg's anti-join
        # already dropped it.
        losses = (
            e.join(
                F.broadcast(removed.withColumnRenamed("node", "v")), "v", "left_semi"
            )
            .select(F.col("u").alias("node"))
            .unionAll(
                e.join(
                    F.broadcast(removed.withColumnRenamed("node", "u")),
                    "u",
                    "left_semi",
                ).select(F.col("v").alias("node"))
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        deg_next = (
            surv_deg.join(F.broadcast(losses), "node", "left")
            .select(
                "node",
                (F.col("d") - F.coalesce(F.col("lost"), F.lit(0))).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        summary = surv_deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_survivors"),
            F.coalesce(F.sum("node"), F.lit(0)).cast("long").alias("node_checksum"),
        ).crossJoin(e_next.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        rows.append(
            summary.select(
                F.lit(r).alias("round"), "n_survivors", "n_edges", "node_checksum"
            )
        )
        e, deg = e_next, deg_next
    out = rows[0]
    for p in rows[1:]:
        out = out.unionAll(p)
    return out.orderBy("round")


# --------------------------------------------------------------------------
# Modularity of a community partition (regions over the trade graph)
# --------------------------------------------------------------------------

_MOD_S = 10**6  # s_c^2 * S <= 4W^2 * 1e6 stays in int64 for W <= ~1.5e6


@register(
    "graph_community_modularity",
    oracle=f"""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
      FROM dir_e GROUP BY u, v
    ),
    comm AS (SELECT n_nationkey AS node, n_regionkey AS community FROM nation),
    tot AS (SELECT SUM(w) AS big_w FROM und),
    labeled AS (
      SELECT e.w, cu.community AS cu, cv.community AS cv
      FROM und e
      JOIN comm cu ON e.u = cu.node
      JOIN comm cv ON e.v = cv.node
    ),
    intra AS (
      SELECT cu AS community, SUM(w) AS w_in
      FROM labeled WHERE cu = cv GROUP BY cu
    ),
    deg AS (
      SELECT community, SUM(w) AS s_c FROM (
        SELECT cu AS community, w FROM labeled
        UNION ALL SELECT cv, w FROM labeled
      ) GROUP BY community
    )
    SELECT d.community,
           CAST(COALESCE(i.w_in, 0) AS BIGINT) AS w_intra,
           CAST(d.s_c AS BIGINT) AS degree_weight,
           CAST((COALESCE(i.w_in, 0) * {_MOD_S}) // t.big_w
                - (d.s_c * d.s_c * {_MOD_S}) // (4 * t.big_w * t.big_w)
                AS BIGINT) AS q_contrib_scaled
    FROM deg d
    LEFT JOIN intra i ON d.community = i.community
    CROSS JOIN tot t
    ORDER BY d.community
    """,
    doc=(
        "Newman modularity of a community partition over the weighted "
        "undirected trade graph, with REGIONS as the communities — "
        "the standard 'is this clustering better than chance' number "
        "(Q = sum_c w_in/W - (s_c/2W)^2), emitted per community so "
        "each term is hash-checked, all-integer scaled. The partition "
        "quality metric that pairs with graph_label_propagation / "
        "dedup_components: those produce communities, this scores "
        "them. Corpus-sized work is the edge build only; the scoring "
        "runs in one Arrow summary kernel over the |V|-bounded "
        "labeled aggregate (round 10)."
    ),
    tags=("graph", "community", "scale"),
)
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), F.col("n_regionkey").alias("community")
    )
    und = _trade_und(spark, sf_dir)
    # the community labels ride the summary relation via two broadcast
    # dim joins (no exchange), exactly like the personalized-pagerank
    # kernel's source flags
    labeled = (
        und.join(
            F.broadcast(n.withColumnRenamed("node", "u").withColumnRenamed("community", "cu")),
            "u",
        )
        .join(
            F.broadcast(n.withColumnRenamed("node", "v").withColumnRenamed("community", "cv")),
            "v",
        )
        .select("w", "cu", "cv")
    )

    # round-10 kernelization: the 1-row total, the intra/degree
    # aggregates, their join and the cross-join all ran over the
    # ≤ 300-row labeled summary — one Python pass; div operands are
    # non-negative so Python // equals Spark's truncating div
    def kernel(rows):
        big_w = sum(w for w, _, _ in rows)
        w_in: dict[int, int] = {}
        s_c: dict[int, int] = {}
        for w, cu, cv in rows:
            if cu == cv:
                w_in[cu] = w_in.get(cu, 0) + w
            s_c[cu] = s_c.get(cu, 0) + w
            s_c[cv] = s_c.get(cv, 0) + w
        return [
            (
                cc,
                w_in.get(cc, 0),
                sc,
                (w_in.get(cc, 0) * _MOD_S) // big_w
                - (sc * sc * _MOD_S) // (4 * big_w * big_w),
            )
            for cc, sc in sorted(s_c.items())
        ]

    return _summary_kernel(
        labeled,
        "community int, w_intra long, degree_weight long, "
        "q_contrib_scaled long",
        kernel,
    )


# --------------------------------------------------------------------------
# Degree assortativity (Pearson r over edge endpoint degrees)
# --------------------------------------------------------------------------


@register(
    "graph_assortativity",
    oracle="""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    und0 AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
      FROM dir_e GROUP BY u, v
    ),
    utot AS (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM und0),
    und AS MATERIALIZED (
      SELECT u, v FROM und0 CROSS JOIN utot WHERE w * ne >= tw
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY node
    ),
    ends AS (
      -- each undirected edge contributes both orientations, the
      -- standard symmetrization for assortativity
      SELECT du.d AS x, dv.d AS y
      FROM und e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
      UNION ALL
      SELECT dv.d, du.d
      FROM und e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM ends
    )
    SELECT m2, sx, sxy,
           CAST(m2 * sxy - sx * sy AS BIGINT) AS cov_num,
           CASE WHEN m2 * sxx - sx * sx = 0 OR m2 * syy - sy * sy = 0
                THEN CAST(0 AS DOUBLE)
                ELSE round((CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(m2 AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(m2 AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) END
             AS assortativity
    FROM s
    """,
    doc=(
        "Degree assortativity of the undirected trade graph — "
        "Newman's r: the Pearson correlation of endpoint degrees "
        "over symmetrized edges. Positive = hubs trade with hubs "
        "(robust core), negative = hub-and-spoke (fragile to hub "
        "loss) — the one-number structure diagnostic that decides "
        "whether skew mitigation is even needed before running the "
        "heavier graph ops. Sufficient statistics are exact BIGINT "
        "power sums (the Welch-t discipline); the final Pearson is "
        "one identical IEEE tree rounded at 6. The exact integer "
        "covariance numerator is ALSO emitted, so the sign — the "
        "actual diagnostic — is hash-pinned with no float involved."
    ),
    tags=("graph", "diagnostics", "scale"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 kernelization: the above-mean sparsification (the reason
    # und0 was cached and cross-joined), the degree build, both
    # orientation joins and the 6-sum aggregate all operate on the
    # ≤ 300-row summary — one Python pass. The exact BIGINT power sums
    # come out of the kernel; the single float op (Pearson + round)
    # STAYS a Spark expression on those sums, so rounding semantics are
    # untouched.
    def kernel(rows):
        # above-mean sparsification (integer cross-compare, no doubles):
        # the full co-trade graph saturates to near-complete at larger
        # SFs where r is degenerate; strong ties keep degree structure
        und = _kept_filter(rows)
        deg: dict[int, int] = {}
        for u, v in und:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        m2 = sx = sy = sxx = syy = sxy = 0
        for u, v in und:
            for x, y in ((deg[u], deg[v]), (deg[v], deg[u])):
                m2 += 1
                sx += x
                sy += y
                sxx += x * x
                syy += y * y
                sxy += x * y
        return [(m2, sx, sy, sxx, syy, sxy)]

    stats = _summary_kernel(
        _trade_und(spark, sf_dir),
        "m2 long, sx long, sy long, sxx long, syy long, sxy long",
        kernel,
    )
    return stats.select(
        "m2",
        "sx",
        "sxy",
        (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("cov_num"),
        F.when(
            (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx") == 0)
            | (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy") == 0),
            F.lit(0.0),
        )
        .otherwise(
            F.round(
                (
                    F.col("m2").cast("double") * F.col("sxy")
                    - F.col("sx").cast("double") * F.col("sy")
                )
                / (
                    F.sqrt(
                        F.col("m2").cast("double") * F.col("sxx")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    * F.sqrt(
                        F.col("m2").cast("double") * F.col("syy")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
                6,
            )
        )
        .alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Reciprocity of the directed trade graph
# --------------------------------------------------------------------------

_RECIP_S = 10**6


@register(
    "graph_reciprocity",
    oracle=f"""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    recip AS (
      SELECT COUNT(*) AS n_recip
      FROM dir_e a
      WHERE EXISTS (
        SELECT 1 FROM dir_e b WHERE b.src = a.dst AND b.dst = a.src
      )
    )
    SELECT CAST((SELECT COUNT(*) FROM dir_e) AS BIGINT) AS n_directed_edges,
           CAST(r.n_recip AS BIGINT) AS n_reciprocated,
           CAST((r.n_recip * {_RECIP_S})
                // (SELECT COUNT(*) FROM dir_e) AS BIGINT)
             AS reciprocity_scaled
    FROM recip r
    """,
    doc=(
        "Reciprocity of the directed nation trade graph — the "
        "fraction of buys-from edges that are answered by a "
        "sells-to edge in return. With degree distribution and "
        "assortativity this completes the one-number structure "
        "diagnostics a graph pipeline runs before committing to "
        "heavier algorithms (reciprocity ~1 means the directed "
        "graph is effectively undirected — skip the directed "
        "machinery). The corpus-scale stage is the distinct edge "
        "aggregate; the membership test and ratio run in one Arrow "
        "summary kernel over the ≤|V|² rows (round 10)."
    ),
    tags=("graph", "diagnostics"),
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 kernelization: the reciprocated-count semi-join, both
    # 1-row aggregates, and the cross-join were all over the ≤ 600-row
    # edge aggregate (plus a cache to scan it twice) — one set
    # membership pass in the kernel; div operands are non-negative so
    # Python // equals Spark's truncating div
    def kernel(pairs):
        edges = set(pairs)
        n_all = len(edges)
        n_recip = sum(1 for s_, d_ in edges if (d_, s_) in edges)
        ratio = (n_recip * _RECIP_S) // n_all if n_all else None
        return [(n_all, n_recip, ratio)]

    dir_e = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    return _summary_kernel(
        dir_e,
        "n_directed_edges long, n_reciprocated long, reciprocity_scaled long",
        kernel,
    )


# --------------------------------------------------------------------------
# Closeness centrality: all-pairs BFS on the strong-tie trade graph
# --------------------------------------------------------------------------

_CLOSE_K = 4  # relaxation rounds (diameter bound on the summary graph)
_CLOSE_INF = 10**6
_CLOSE_S = 10**6


def _closeness_oracle() -> str:
    """Unrolled all-pairs min-plus BFS + Wasserman-Faust closeness."""
    head = f"""
    WITH dedges AS MATERIALIZED (
      SELECT LEAST(c.c_nationkey, s.s_nationkey) AS u,
             GREATEST(c.c_nationkey, s.s_nationkey) AS v,
             COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY u, v
    ), tot AS MATERIALIZED (
      SELECT SUM(w) AS tw, COUNT(*) AS ne FROM dedges
    ), strong AS MATERIALIZED (
      SELECT u, v FROM dedges CROSS JOIN tot WHERE w * ne >= tw
    ), und AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM strong
      UNION ALL SELECT v, u FROM strong
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM und
    ), d0 AS MATERIALIZED (
      SELECT a.node AS s, b.node AS t,
             CASE WHEN a.node = b.node THEN 0 ELSE {_CLOSE_INF} END AS dist
      FROM nodes a CROSS JOIN nodes b
    )"""
    rounds = []
    for k in range(_CLOSE_K):
        rounds.append(
            f""", r{k} AS (
      SELECT d{k}.s, und.dst AS t, MIN(d{k}.dist + 1) AS reach
      FROM und JOIN d{k} ON und.src = d{k}.t
      GROUP BY d{k}.s, und.dst
    ), d{k + 1} AS MATERIALIZED (
      SELECT d{k}.s, d{k}.t,
             LEAST(d{k}.dist, COALESCE(r{k}.reach, {_CLOSE_INF})) AS dist
      FROM d{k} LEFT JOIN r{k} ON d{k}.s = r{k}.s AND d{k}.t = r{k}.t
    )"""
        )
    tail = f"""
    SELECT s AS nationkey,
           CAST(COUNT(CASE WHEN dist < {_CLOSE_INF} THEN 1 END) - 1 AS BIGINT)
             AS n_reachable,
           CAST(SUM(CASE WHEN dist < {_CLOSE_INF} THEN dist ELSE 0 END)
                AS BIGINT) AS sum_dist,
           CAST(CASE WHEN SUM(CASE WHEN dist < {_CLOSE_INF} THEN dist
                              ELSE 0 END) = 0 THEN 0
                ELSE ((COUNT(CASE WHEN dist < {_CLOSE_INF} THEN 1 END) - 1)
                      * (COUNT(CASE WHEN dist < {_CLOSE_INF} THEN 1 END) - 1)
                      * {_CLOSE_S})
                     // (((SELECT COUNT(*) FROM nodes) - 1)
                         * SUM(CASE WHEN dist < {_CLOSE_INF} THEN dist
                               ELSE 0 END)) END AS BIGINT)
             AS closeness_wf_scaled
    FROM d{_CLOSE_K}
    GROUP BY s
    ORDER BY nationkey"""
    return head + "".join(rounds) + tail


@register(
    "graph_closeness_centrality",
    oracle=_closeness_oracle(),
    doc=(
        "Closeness centrality of every nation in the strong-tie trade "
        "graph (above-mean edge weight, the assortativity "
        "sparsification) — WHICH hub reaches the whole network "
        "fastest, the classic influence ranking. All-pairs shortest "
        "hops by capped BFS on the |V|^2-bounded summary pair state, "
        "run in one Arrow summary kernel (round-9 rewrite of the "
        "min-plus relaxation rounds — same capped distances, none of "
        "the per-round scheduler fixed cost); closeness is the "
        "Wasserman-Faust form (n_reach-1)^2 / ((n-1)*sum_dist) so "
        "disconnected components rank correctly, pinned as a "
        "1e6-scaled integer. The corpus-sized stage is only the edge "
        "build; iteration never touches facts. Hash-green vs the "
        "unrolled-CTE oracle."
    ),
    tags=("graph", "iterative", "centrality", "scale"),
)
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        nodes, adj = _strong_adjacency(rows)
        dist = _bfs_capped(nodes, adj, _CLOSE_K)
        n_nodes = len(nodes)
        out = []
        for s in nodes:
            d = dist[s]
            nr = len(d) - 1
            sd = sum(d.values())
            clos = 0 if sd == 0 else (nr * nr * _CLOSE_S) // ((n_nodes - 1) * sd)
            out.append((s, nr, sd, clos))
        return out

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "nationkey int, n_reachable long, sum_dist long, "
        "closeness_wf_scaled long",
        kernel,
    )


# --------------------------------------------------------------------------
# Betweenness centrality: shortest-path counting on the strong-tie graph
# --------------------------------------------------------------------------

_BTW_S = 10**6


def _betweenness_oracle() -> str:
    """All-pairs BFS distances + path counts + pair-dependency sum."""
    head = f"""
    WITH dedges AS MATERIALIZED (
      SELECT LEAST(c.c_nationkey, s.s_nationkey) AS u,
             GREATEST(c.c_nationkey, s.s_nationkey) AS v,
             COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY u, v
    ), tot AS MATERIALIZED (
      SELECT SUM(w) AS tw, COUNT(*) AS ne FROM dedges
    ), strong AS MATERIALIZED (
      SELECT u, v FROM dedges CROSS JOIN tot WHERE w * ne >= tw
    ), und AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM strong
      UNION ALL SELECT v, u FROM strong
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM und
    ), d0 AS MATERIALIZED (
      SELECT a.node AS s, b.node AS t,
             CASE WHEN a.node = b.node THEN 0 ELSE {_CLOSE_INF} END AS dist
      FROM nodes a CROSS JOIN nodes b
    )"""
    rounds = []
    for k in range(_CLOSE_K):
        rounds.append(
            f""", r{k} AS (
      SELECT d{k}.s, und.dst AS t, MIN(d{k}.dist + 1) AS reach
      FROM und JOIN d{k} ON und.src = d{k}.t
      GROUP BY d{k}.s, und.dst
    ), d{k + 1} AS MATERIALIZED (
      SELECT d{k}.s, d{k}.t,
             LEAST(d{k}.dist, COALESCE(r{k}.reach, {_CLOSE_INF})) AS dist
      FROM d{k} LEFT JOIN r{k} ON d{k}.s = r{k}.s AND d{k}.t = r{k}.t
    )"""
        )
    sig = [
        f""", sig0 AS MATERIALIZED (
      SELECT node AS s, node AS t, CAST(1 AS BIGINT) AS sigma FROM nodes
    )"""
    ]
    for k in range(1, _CLOSE_K + 1):
        sig.append(
            f""", new{k} AS (
      SELECT p.s, und.dst AS t, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM sig{k - 1} p
      JOIN d{_CLOSE_K} du ON du.s = p.s AND du.t = p.t
                          AND du.dist = {k - 1}
      JOIN und ON und.src = p.t
      JOIN d{_CLOSE_K} dv ON dv.s = p.s AND dv.t = und.dst
                          AND dv.dist = {k}
      GROUP BY p.s, und.dst
    ), sig{k} AS MATERIALIZED (
      SELECT s, t, sigma FROM sig{k - 1}
      UNION ALL SELECT s, t, sigma FROM new{k}
    )"""
        )
    tail = f"""
    , pairs AS MATERIALIZED (
      SELECT g.s, g.t, g.dist, sg.sigma
      FROM d{_CLOSE_K} g JOIN sig{_CLOSE_K} sg ON g.s = sg.s AND g.t = sg.t
      WHERE g.dist < {_CLOSE_INF}
    ),
    contrib AS (
      SELECT a.t AS v, st.s, st.t AS tt,
             (a.sigma * b.sigma * {_BTW_S}) // st.sigma AS c
      FROM pairs a
      JOIN pairs b ON b.s = a.t
      JOIN pairs st ON st.s = a.s AND st.t = b.t
      WHERE a.s < b.t AND a.t <> a.s AND a.t <> b.t
        AND a.dist + b.dist = st.dist
    )
    SELECT n.node AS nationkey,
           CAST(COALESCE(COUNT(c.v), 0) AS BIGINT) AS n_geodesic_pairs,
           CAST(COALESCE(SUM(c.c), 0) AS BIGINT) AS betweenness_scaled
    FROM nodes n LEFT JOIN contrib c ON c.v = n.node
    GROUP BY n.node
    ORDER BY nationkey"""
    return head + "".join(rounds) + "".join(sig) + tail


@register(
    "graph_betweenness_centrality",
    oracle=_betweenness_oracle(),
    doc=(
        "Betweenness centrality on the strong-tie trade graph — "
        "completes the centrality triad (degree distribution, "
        "closeness, this): for every node, the sum over unordered "
        "(s,t) pairs of the fraction of shortest s-t paths passing "
        "through it, sigma_st(v)/sigma_st with sigma_st(v) = "
        "sigma(s,v)*sigma(v,t) when d(s,v)+d(v,t)=d(s,t). Distances "
        "AND path counts both come from capped-depth BFS on the "
        "|V|^2 pair state; distances, counts and the dependency sum "
        "all run in one Arrow summary kernel over the aggregated "
        "edge relation (round-9 rewrite of the synchronous-round "
        "join chain) — never corpus-scale. "
        "Fractions are per-pair 1e6-scaled floor divisions so the "
        "centrality is integer-pinned (Brandes' backward pass "
        "accumulates the same quantity in floats; the counting form "
        "trades O(VE) for summary-sized joins, right when V is "
        "small after aggregation)."
    ),
    tags=("graph", "iterative", "centrality", "scale"),
)
def graph_betweenness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        nodes, adj = _strong_adjacency(rows)
        dist = _bfs_capped(nodes, adj, _CLOSE_K)
        # sigma: shortest-path counts over the capped BFS DAG, by depth
        sigma: dict[int, dict[int, int]] = {}
        for s in nodes:
            d = dist[s]
            sg = {s: 1}
            by_depth: dict[int, list[int]] = {}
            for t, dt in d.items():
                by_depth.setdefault(dt, []).append(t)
            for k in range(1, _CLOSE_K + 1):
                for t in by_depth.get(k, ()):
                    sg[t] = sum(
                        sg[u]
                        for u in adj.get(t, ())
                        if d.get(u, -1) == k - 1
                    )
            sigma[s] = sg
        n_pairs = {n: 0 for n in nodes}
        btw = {n: 0 for n in nodes}
        for sa in nodes:
            da_map, siga_map, dst_map = dist[sa], sigma[sa], dist[sa]
            for v in da_map:
                if v == sa:
                    continue
                da, siga = da_map[v], siga_map[v]
                dbm, sigbm = dist[v], sigma[v]
                for tb in dbm:
                    if not (sa < tb) or v == tb:
                        continue
                    dst_ = dst_map.get(tb)
                    if dst_ is None or da + dbm[tb] != dst_:
                        continue
                    n_pairs[v] += 1
                    btw[v] += (siga * sigbm[tb] * _BTW_S) // siga_map[tb]
        return [(n, n_pairs[n], btw[n]) for n in nodes]

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "nationkey int, n_geodesic_pairs long, betweenness_scaled long",
        kernel,
    )


# --------------------------------------------------------------------------
# Strongly connected components on the DIRECTED trade graph
# --------------------------------------------------------------------------


def _scc_oracle() -> str:
    """Unrolled directed-closure rounds + mutual-reachability labeling."""
    head = f"""
    WITH dedges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ), tot AS MATERIALIZED (
      SELECT SUM(w) AS tw, COUNT(*) AS ne FROM dedges
    ), e AS MATERIALIZED (
      SELECT src, dst FROM dedges CROSS JOIN tot WHERE w * ne >= tw
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ), d0 AS MATERIALIZED (
      SELECT a.node AS s, b.node AS t,
             CASE WHEN a.node = b.node THEN 0 ELSE {_CLOSE_INF} END AS dist
      FROM nodes a CROSS JOIN nodes b
    )"""
    rounds = []
    for k in range(_CLOSE_K):
        rounds.append(
            f""", r{k} AS (
      SELECT d{k}.s, e.dst AS t, MIN(d{k}.dist + 1) AS reach
      FROM e JOIN d{k} ON e.src = d{k}.t
      GROUP BY d{k}.s, e.dst
    ), d{k + 1} AS MATERIALIZED (
      SELECT d{k}.s, d{k}.t,
             LEAST(d{k}.dist, COALESCE(r{k}.reach, {_CLOSE_INF})) AS dist
      FROM d{k} LEFT JOIN r{k} ON d{k}.s = r{k}.s AND d{k}.t = r{k}.t
    )"""
        )
    tail = f"""
    , reach AS MATERIALIZED (
      SELECT s, t FROM d{_CLOSE_K} WHERE dist < {_CLOSE_INF}
    ),
    mutual AS MATERIALIZED (
      SELECT f.s AS v, f.t AS u
      FROM reach f JOIN reach b ON f.s = b.t AND f.t = b.s
    ),
    labels AS MATERIALIZED (
      SELECT v, CAST(MIN(u) AS BIGINT) AS scc_id FROM mutual GROUP BY v
    )
    SELECT l.v AS nationkey, l.scc_id,
           CAST(sz.n AS BIGINT) AS scc_size,
           CAST(o.n AS BIGINT) AS n_reach_out,
           CAST(i.n AS BIGINT) AS n_reach_in
    FROM labels l
    JOIN (SELECT scc_id, COUNT(*) AS n FROM labels GROUP BY scc_id) sz
      USING (scc_id)
    JOIN (SELECT s, COUNT(*) AS n FROM reach GROUP BY s) o ON o.s = l.v
    JOIN (SELECT t, COUNT(*) AS n FROM reach GROUP BY t) i ON i.t = l.v
    ORDER BY nationkey"""
    return head + "".join(rounds) + tail


@register(
    "graph_scc_decomposition",
    oracle=_scc_oracle(),
    doc=(
        "Strongly connected components of the DIRECTED strong-tie "
        "trade graph (customer-nation -> supplier-nation; above-mean "
        "directed edges, so the adjacency is genuinely asymmetric) — "
        "the cycle structure a directed dependency/flow graph "
        "reduces to: v and u share a component iff each reaches the "
        "other. Reachability comes from the same capped BFS as "
        "closeness, run in one Arrow summary kernel over the "
        "aggregated edge relation (round-9 rewrite of the min-plus "
        "round chain); "
        "the SCC label is min(mutually-reachable node) from the "
        "closure — forward cross backward "
        "reachability, the relational form of Kosaraju's insight "
        "without the DFS. Per node: component id, component size, "
        "out-/in-reachability counts (the condensation DAG's "
        "signature), all integer, hash-pinned."
    ),
    tags=("graph", "iterative", "scc", "scale"),
)
def graph_scc_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        e = _kept_filter(rows)
        nodes = sorted({s_ for s_, _ in e} | {d_ for _, d_ in e})
        adj: dict[int, list[int]] = {}
        for s_, d_ in e:
            adj.setdefault(s_, []).append(d_)
        dist = _bfs_capped(nodes, adj, _CLOSE_K)
        reach = {(s_, t_) for s_ in nodes for t_ in dist[s_]}
        labels = {
            v: min(t_ for t_ in dist[v] if (t_, v) in reach)
            for v in nodes
        }
        sizes: dict[int, int] = {}
        for scc in labels.values():
            sizes[scc] = sizes.get(scc, 0) + 1
        n_in: dict[int, int] = {}
        for s_ in nodes:
            for t_ in dist[s_]:
                n_in[t_] = n_in.get(t_, 0) + 1
        return [
            (n, labels[n], sizes[labels[n]], len(dist[n]), n_in[n])
            for n in nodes
        ]

    return _summary_kernel(
        _trade_edges(spark, sf_dir).where(F.col("src") != F.col("dst")),
        "nationkey int, scc_id long, scc_size long, "
        "n_reach_out long, n_reach_in long",
        kernel,
    )


# ---------------------------------------------------------------------------
# Hash-deterministic random-walk visit counts over the trade graph
# ---------------------------------------------------------------------------

_RW_STEPS = 6
_RW_A, _RW_B, _RW_C = 1103515245, 12345, 2147483647  # LCG-style mix, all int


def _rw_oracle() -> str:
    parts = [
        f"""
    WITH edges AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    adj AS (
      SELECT src, dst,
             CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
                  AS BIGINT) - 1 AS rk,
             CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
      FROM edges
    ),
    s0 AS (
      SELECT DISTINCT CAST(src AS BIGINT) AS walk_id,
             CAST(src AS BIGINT) AS node, CAST(0 AS BIGINT) AS step
      FROM edges
    )"""
    ]
    for k in range(_RW_STEPS):
        parts.append(
            f""", s{k + 1} AS (
      SELECT s.walk_id, a.dst AS node, CAST({k + 1} AS BIGINT) AS step
      FROM s{k} s
      JOIN adj a ON a.src = s.node
       AND a.rk = ((s.walk_id * {_RW_A} + {k + 1} * {_RW_B}) % {_RW_C})
                   % a.deg
    )"""
        )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM s{k}" for k in range(_RW_STEPS + 1)
    )
    parts.append(
        f""",
    visits AS (
      {union}
    )
    SELECT node AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_visits,
           CAST(COUNT(DISTINCT walk_id) AS BIGINT) AS n_walks,
           CAST(MAX(step) AS BIGINT) AS last_step_seen
    FROM visits GROUP BY node ORDER BY node"""
    )
    return "".join(parts)


@register(
    "graph_random_walk_visits",
    oracle=_rw_oracle(),
    doc=(
        "Deterministic random-walk sampling over the customer-nation -> "
        "supplier-nation trade graph: one walk starts at every node "
        "with outgoing edges and takes 6 steps; the step from node u "
        "picks neighbor index H(walk_id, step) mod deg(u) where H is a "
        "pure-integer LCG mix — a hash-derangement stand-in for RNG "
        "(Math.random is banned cross-engine), so Spark and the "
        "unrolled DuckDB CTE chain traverse bit-identical paths. Visit "
        "counts approximate stationary mass the way DeepWalk/node2vec "
        "corpus generation does at 100 TB: the corpus-sized work is the "
        "one distinct edge build; the 6 steps walk the |E|-bounded "
        "adjacency inside one Arrow summary kernel (round-9 rewrite "
        "of the per-step broadcast-join chain), and "
        "dead-end nodes terminate walks on both engines identically."
    ),
    tags=("graph", "iterative", "sampling", "scale"),
)
def graph_random_walk_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(pairs):
        adj: dict[int, list[int]] = {}
        for src, dst in sorted(set(pairs)):
            adj.setdefault(src, []).append(dst)
        visits: list[tuple[int, int, int]] = []  # (walk_id, node, step)
        for walk_id in adj:
            node = walk_id
            visits.append((walk_id, node, 0))
            for k in range(1, _RW_STEPS + 1):
                nbrs = adj.get(node)
                if not nbrs:
                    break  # dead end terminates the walk
                idx = ((walk_id * _RW_A + k * _RW_B) % _RW_C) % len(nbrs)
                node = nbrs[idx]
                visits.append((walk_id, node, k))
        stats: dict[int, list] = {}
        for walk_id, node, step in visits:
            st = stats.setdefault(node, [0, set(), 0])
            st[0] += 1
            st[1].add(walk_id)
            st[2] = max(st[2], step)
        return [
            (n, visits_n, len(walks), last)
            for n, (visits_n, walks, last) in sorted(stats.items())
        ]

    return _summary_kernel(
        _trade_edges(spark, sf_dir).select("src", "dst"),
        "nationkey long, n_visits long, n_walks long, last_step_seen long",
        kernel,
    )


# --------------------------------------------------------------------------
# Minimum spanning tree: Boruvka rounds (the distributed-MST classic)
# --------------------------------------------------------------------------


@register(
    "graph_mst_boruvka",
    oracle="""
    WITH RECURSIVE dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      GROUP BY 1, 2
    ),
    ue AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
             CAST(SUM(w) AS BIGINT) AS w
      FROM dir_e WHERE src <> dst GROUP BY 1, 2
    ),
    start AS (SELECT MIN(a) AS s FROM ue),
    prim(step, visited, ea, eb, ew) AS (
      SELECT 0, [s], CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT)
      FROM start
      UNION ALL
      (SELECT p.step + 1,
              list_append(p.visited,
                CASE WHEN list_contains(p.visited, e.a)
                     THEN e.b ELSE e.a END),
              e.a, e.b, e.w
       FROM prim p JOIN ue e
         ON list_contains(p.visited, e.a)
            <> list_contains(p.visited, e.b)
       ORDER BY e.w, e.a, e.b LIMIT 1)
    )
    SELECT ea AS nation_a, eb AS nation_b, ew AS trade_w
    FROM prim WHERE step > 0
    ORDER BY nation_a, nation_b
    """,
    doc=(
        "Minimum spanning tree of the undirected nation trade graph "
        "(edge weight = lineitem count between the two nations), "
        "computed with BORUVKA rounds: every component picks its "
        "minimum outgoing edge under the total order (w, a, b), the "
        "picked edges merge components (pointer-doubling connected "
        "components on the accumulated tree), and the loop ends when "
        "one component remains — O(log V) rounds, all run in one Arrow "
        "summary kernel over the O(|nations|^2) edge aggregate "
        "(round-9 rewrite of the per-round CC + count() chain). The total "
        "tie-break order makes the MST unique, so the oracle's "
        "sequential Prim (same order) returns the identical 24 edges. "
        "Scale: the one corpus-sized job is the fact-fact edge build; "
        "Boruvka is THE distributed MST algorithm (one round halves "
        "the component count, every step is a per-component min — a "
        "map-side combinable aggregate, never a global sort)."
    ),
    tags=("graph", "mst", "iterative"),
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(edges):
        parent: dict[int, int] = {}
        for a_, b_, _w in edges:
            parent.setdefault(a_, a_)
            parent.setdefault(b_, b_)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        mst: set[tuple[int, int, int]] = set()
        for _ in range(8):  # Boruvka: component count halves per round
            best: dict[int, tuple[int, int, int]] = {}
            for a_, b_, w in edges:
                ca, cb = find(a_), find(b_)
                if ca == cb:
                    continue
                key = (w, a_, b_)  # the unique (w, a, b) total order
                for comp in (ca, cb):
                    if comp not in best or key < best[comp]:
                        best[comp] = key
            if not best:
                break
            for w, a_, b_ in set(best.values()):
                mst.add((a_, b_, w))
                ra, rb = find(a_), find(b_)
                if ra != rb:
                    parent[ra] = rb
        return sorted(mst)

    return _summary_kernel(
        _trade_und(spark, sf_dir), "nation_a int, nation_b int, trade_w long", kernel
    )


# --------------------------------------------------------------------------
# All-pairs shortest hops: min-plus matrix squaring (APSP in O(log V) rounds)
# --------------------------------------------------------------------------


@register(
    "graph_apsp_minplus",
    oracle="""
    WITH RECURSIVE dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      GROUP BY 1, 2
    ),
    ue AS MATERIALIZED (
      SELECT src AS u, dst AS v FROM dir_e WHERE src <> dst
      UNION
      SELECT dst, src FROM dir_e WHERE src <> dst
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM ue),
    r(src, dst, d) AS (
      SELECT node, node, CAST(0 AS BIGINT) FROM nodes
      UNION
      SELECT r.src, e.v, r.d + 1 FROM r JOIN ue e ON e.u = r.dst
      WHERE r.d < 30
    )
    SELECT CAST(src AS BIGINT) AS src_nation,
           CAST(dst AS BIGINT) AS dst_nation,
           CAST(MIN(d) AS BIGINT) AS hops
    FROM r GROUP BY 1, 2
    ORDER BY src_nation, dst_nation
    """,
    doc=(
        "All-pairs shortest hop distances on the undirected nation "
        "trade graph by MIN-PLUS MATRIX SQUARING: dist <- min(dist, "
        "dist (+) dist) doubles the covered path length every round, "
        "so 5 rounds close any 25-node graph — O(log diameter) "
        "synchronous rounds, the APSP counterpart to the pointer-"
        "doubling components operator (vs graph_bfs_shortest_hops' "
        "single-source O(diameter) relaxation). The squaring rounds "
        "run in one Arrow summary kernel over the O(V^2) distance "
        "relation (round-9 rewrite: per-round self-join + checkpoint "
        "jobs were pure fixed cost; full BFS on the summary computes "
        "the identical closed hops). The oracle grows paths breadth-first in a "
        "recursive CTE and takes MIN(d). All-integer hops, hash-"
        "exact. Scale: the corpus touches only the edge build; at "
        "100 TB the distance relation is O(V^2) — APSP is for entity "
        "graphs (nations, accounts, datacenters), and the same "
        "squaring bounded to k rounds yields exact k-hop "
        "reachability on billion-edge graphs."
    ),
    tags=("graph", "apsp", "iterative"),
)
def graph_apsp_minplus(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(pairs):
        sym = {(u, v) for u, v in pairs if u != v}
        sym |= {(v, u) for u, v in sym}
        nodes = sorted({u for u, _ in sym})
        adj: dict[int, list[int]] = {}
        for u, v in sym:
            adj.setdefault(u, []).append(v)
        # full BFS == the 5 min-plus squaring rounds it replaces: the
        # squaring closed every path of <= 32 edges, >= any 25-node
        # diameter, so both compute exact hops on reachable pairs
        dist = _bfs_capped(nodes, adj, max(len(nodes), 1))
        return sorted(
            (s_, t_, d_) for s_ in nodes for t_, d_ in dist[s_].items()
        )

    return _summary_kernel(
        _trade_edges(spark, sf_dir).select("src", "dst"),
        "src_nation long, dst_nation long, hops long",
        kernel,
    )


# --------------------------------------------------------------------------
# k-truss peeling (edge-support cascade over the co-trade graph)
# --------------------------------------------------------------------------

_TRUSS_K = 8
_TRUSS_ROUNDS = 2


def _truss_oracle() -> str:
    parts = [f"WITH {_TRI_EDGE_SQL}, e0 AS (SELECT u, v FROM kept)"]
    for r in range(_TRUSS_ROUNDS):
        parts.append(f""",
    tdeg{r} AS (SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})
        GROUP BY node),
    o{r} AS MATERIALIZED (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS db
      FROM e{r} e
      JOIN tdeg{r} du ON du.node = e.u
      JOIN tdeg{r} dv ON dv.node = e.v),
    tri{r} AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM o{r} e1 JOIN o{r} e2
        ON e2.a = e1.a AND (e2.db, e2.b) > (e1.db, e1.b)
      WHERE EXISTS (SELECT 1 FROM o{r} c WHERE c.a = e1.b AND c.b = e2.b)),
    supp{r} AS (
      SELECT u, v, COUNT(*) AS s FROM (
        SELECT LEAST(x, y) AS u, GREATEST(x, y) AS v FROM tri{r}
        UNION ALL SELECT LEAST(x, z), GREATEST(x, z) FROM tri{r}
        UNION ALL SELECT LEAST(y, z), GREATEST(y, z) FROM tri{r})
      GROUP BY u, v),
    e{r + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r} e
      LEFT JOIN supp{r} s ON s.u = e.u AND s.v = e.v
      WHERE COALESCE(s.s, 0) >= {_TRUSS_K - 2})""")
    sels = []
    for r in range(_TRUSS_ROUNDS):
        sels.append(f"""
    SELECT {r} AS round,
       CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM tri{r}) AS BIGINT) AS n_triangles,
       CAST((SELECT COUNT(*) FROM e{r + 1}) AS BIGINT) AS n_surviving,
       CAST(COALESCE((SELECT SUM(u * 100 + v) FROM e{r + 1}), 0) AS BIGINT)
         AS edge_checksum""")
    return "".join(parts) + " UNION ALL ".join(sels) + " ORDER BY round"


@register(
    "graph_ktruss_peeling",
    oracle=_truss_oracle(),
    doc=(
        f"k-truss decomposition (k={_TRUSS_K}, {_TRUSS_ROUNDS} pinned "
        "peel rounds) of the above-mean-weight nation co-trade graph: "
        "repeatedly drop every edge in fewer than k-2 triangles and "
        "re-count. The cohesion filter community pipelines run ABOVE "
        "k-core (triangle support is a strictly stronger condition "
        "than degree). Each round reuses the degree-ordered wedge "
        "enumeration of graph_triangle_count (Suri-Vassilvitskii "
        "orientation: wedges only at each triangle's lowest-degree "
        "apex, closing edge confirmed by a left-semi join — O(Σ "
        "min-deg²), never O(Σ deg²)), then one support aggregate and "
        "one filter; both rounds run in one Arrow summary kernel over "
        "the aggregated edge relation (round-9 rewrite of the "
        "per-round checkpoint chain). The corpus-sized "
        "stage (fact join → nation edge weights) runs ONCE; peeling "
        "iterates on the O(|nations|²)-bounded edge relation. Output "
        "is the per-round (edges, triangles, survivors, checksum) "
        "trace, so the cascade dynamics are what gets hash-checked."
    ),
    tags=("graph", "iterative", "triangles", "scale"),
)
def graph_ktruss_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        e = _kept_filter(rows)
        trace = []
        for r in range(_TRUSS_ROUNDS):
            deg: dict[int, int] = {}
            for u_, v_ in e:
                deg[u_] = deg.get(u_, 0) + 1
                deg[v_] = deg.get(v_, 0) + 1
            oriented: dict[int, list[tuple[int, int]]] = {}
            oset: set[tuple[int, int]] = set()
            for u_, v_ in e:
                lower = (deg[u_], u_) < (deg[v_], v_)
                a_, b_ = (u_, v_) if lower else (v_, u_)
                oriented.setdefault(a_, []).append((b_, deg[b_]))
                oset.add((a_, b_))
            tris: list[tuple[int, int, int]] = []
            for a_, outs in oriented.items():
                for y_, dy in outs:
                    for z_, dz in outs:
                        if ((dz, z_) > (dy, y_)) and (y_, z_) in oset:
                            tris.append((a_, y_, z_))
            supp: dict[tuple[int, int], int] = {}
            for x_, y_, z_ in tris:
                for p_, q_ in ((x_, y_), (x_, z_), (y_, z_)):
                    key = (min(p_, q_), max(p_, q_))
                    supp[key] = supp.get(key, 0) + 1
            e_next = [
                (u_, v_)
                for u_, v_ in e
                if supp.get((u_, v_), 0) >= _TRUSS_K - 2
            ]
            trace.append(
                (
                    r,
                    len(e),
                    len(tris),
                    len(e_next),
                    sum(u_ * 100 + v_ for u_, v_ in e_next),
                )
            )
            e = e_next
        return trace

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "round int, n_edges long, n_triangles long, n_surviving long, "
        "edge_checksum long",
        kernel,
    )


# --------------------------------------------------------------------------
# Personalized PageRank (restart mass pinned to a source set)
# --------------------------------------------------------------------------


def _ppr_oracle() -> str:
    base = _SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN
    parts = [
        f"""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(w) AS out_w FROM edges GROUP BY src
    ), e AS (
      SELECT edges.src, edges.dst, edges.w, outw.out_w
      FROM edges JOIN outw ON edges.src = outw.src
    ), srcset AS (
      SELECT n.n_nationkey AS node
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), nodes AS (
      SELECT node,
             CASE WHEN node IN (SELECT node FROM srcset) THEN 1 ELSE 0 END
               AS in_source
      FROM (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
      )
    ), p0 AS (
      SELECT node, in_source,
             CAST({_SCALE} * in_source AS BIGINT) AS rank
      FROM nodes
    )"""
    ]
    for k in range(_K):
        parts.append(
            f""", pc{k} AS (
      SELECT e.dst AS node, SUM((p{k}.rank * e.w) // e.out_w) AS contrib
      FROM e JOIN p{k} ON e.src = p{k}.node
      GROUP BY e.dst
    ), p{k + 1} AS (
      SELECT nodes.node, nodes.in_source,
             CAST({base} * nodes.in_source
                  + ({_DAMP_NUM} * COALESCE(pc{k}.contrib, 0))
                  // {_DAMP_DEN} AS BIGINT) AS rank
      FROM nodes LEFT JOIN pc{k} ON nodes.node = pc{k}.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS nationkey, CAST(in_source AS BIGINT) AS in_source,
           rank AS ppr_scaled
    FROM p{_K} ORDER BY nationkey"""
    )
    return "".join(parts)


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
    doc=(
        "Personalized PageRank (damping 0.85, 4 iterations) from the "
        "EUROPE nation set over the customer->supplier trade graph: "
        "restart mass returns ONLY to the source set, so ranks measure "
        "proximity to it — the recommendation/expansion primitive "
        "(seed-set expansion, related-entity retrieval) that global "
        "PageRank cannot express. Same 100 TB shape as "
        "graph_pagerank_trade: one fact-sized edge build with "
        "broadcast dims, then the K rounds in one Arrow summary "
        "kernel (round-9 rewrite); the source-set membership flags "
        "ride the summary edge relation via two broadcast dim joins, "
        "not an extra pass. All-integer scaled arithmetic (1e12) "
        "keeps the trace bit-identical to the oracle's unrolled CTEs."
    ),
    tags=("graph", "iterative", "pagerank"),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    srcset = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
               n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("node"))
    )
    # personalization flags ride the summary edge relation (two tiny
    # broadcast-dim joins), so ONE relation feeds the kernel
    flagged = (
        _trade_edges(spark, sf_dir)
        .join(
            F.broadcast(srcset.select(F.col("node").alias("src"))
                        .withColumn("src_in", F.lit(1))),
            "src",
            "left",
        )
        .join(
            F.broadcast(srcset.select(F.col("node").alias("dst"))
                        .withColumn("dst_in", F.lit(1))),
            "dst",
            "left",
        )
        .select(
            "src", "dst", "w",
            F.coalesce("src_in", F.lit(0)).alias("src_in"),
            F.coalesce("dst_in", F.lit(0)).alias("dst_in"),
        )
    )

    def kernel(rows):
        outw: dict[int, int] = {}
        in_source: dict[int, int] = {}
        for src, dst, w, si, di in rows:
            outw[src] = outw.get(src, 0) + w
            in_source[src] = si
            in_source[dst] = di
        nodes = sorted(in_source)
        base = _SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN
        rank = {n_: _SCALE * in_source[n_] for n_ in nodes}
        for _ in range(_K):
            contrib: dict[int, int] = {}
            for src, dst, w, _si, _di in rows:
                contrib[dst] = (
                    contrib.get(dst, 0) + (rank[src] * w) // outw[src]
                )
            rank = {
                n_: base * in_source[n_]
                + (_DAMP_NUM * contrib.get(n_, 0)) // _DAMP_DEN
                for n_ in nodes
            }
        return [(n_, in_source[n_], rank[n_]) for n_ in nodes]

    return _summary_kernel(
        flagged, "nationkey long, in_source long, ppr_scaled long", kernel
    )


# --------------------------------------------------------------------------
# Temporal (time-respecting) reachability
# --------------------------------------------------------------------------


@register(
    "graph_temporal_reachability",
    oracle="""
    WITH f AS MATERIALIZED (
      -- MATERIALIZED pins the equi-join tree: with the src <> dst
      -- inequality in the same scope, DuckDB 1.0 joins customer x
      -- supplier on the inequality first (3.7e8 rows; spilled >80 GB
      -- of temp at sf0.5 in the r7 cross-sf sweep)
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, o.o_orderdate
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    e AS (
      SELECT src, dst,
             MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                 + EXTRACT(MONTH FROM o_orderdate)) AS t
      FROM f
      WHERE src <> dst
      GROUP BY src, dst
    ),
    hop2 AS (
      SELECT a.src, b.dst AS dst2, MIN(b.t) AS arrive_t
      FROM e a JOIN e b
        ON b.src = a.dst AND b.t >= a.t AND b.dst <> a.src
      GROUP BY a.src, b.dst
    ),
    dr AS (
      SELECT src, COUNT(DISTINCT dst) AS direct_reach FROM e GROUP BY src
    ),
    hs AS (
      SELECT src, COUNT(DISTINCT dst2) AS hop2_reach,
             SUM(arrive_t) AS cs
      FROM hop2 GROUP BY src
    )
    SELECT dr.src AS nationkey,
           CAST(dr.direct_reach AS BIGINT) AS direct_reach,
           CAST(COALESCE(hs.hop2_reach, 0) AS BIGINT) AS hop2_reach,
           CAST(COALESCE(hs.cs, 0) AS BIGINT) AS arrival_checksum
    FROM dr LEFT JOIN hs ON hs.src = dr.src
    ORDER BY nationkey
    """,
    doc=(
        "Time-respecting reachability — the temporal-graph semantics "
        "static reachability gets WRONG: a 2-hop path src->mid->dst "
        "only counts if the second edge departs no earlier than the "
        "first arrives (b.t >= a.t), so influence/contagion can only "
        "flow forward in time. Edges carry their FIRST-trade month "
        "(min-aggregate over the fact join); per source the readout "
        "is direct reach, time-respecting 2-hop reach, and the "
        "earliest-arrival checksum — the temporal betweenness/"
        "latency primitives build on exactly this join. 100 TB "
        "shape: one fact-sized edge build; the 2-hop time-respecting "
        "expansion runs in one Arrow summary kernel over the "
        "O(|nations|^2)-bounded timestamped edge relation (round-9 "
        "rewrite of the self-join + three aggregate branches)."
    ),
    tags=("graph", "temporal", "scale"),
)
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # its own copy of the trade join: the edge carries min(month) of
    # o_orderdate, not the lineitem count _trade_edges aggregates
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(
            F.min(F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "t"
            )
        )
    )

    def kernel(rows):
        out_edges: dict[int, list[tuple[int, int]]] = {}
        for src, dst, t in rows:
            out_edges.setdefault(src, []).append((dst, t))
        arrive: dict[tuple[int, int], int] = {}
        for src, dst, t1 in rows:
            for dst2, t2 in out_edges.get(dst, ()):
                if t2 >= t1 and dst2 != src:
                    key = (src, dst2)
                    if key not in arrive or t2 < arrive[key]:
                        arrive[key] = t2
        hop2_n: dict[int, int] = {}
        hop2_sum: dict[int, int] = {}
        for (src, _dst2), at in arrive.items():
            hop2_n[src] = hop2_n.get(src, 0) + 1
            hop2_sum[src] = hop2_sum.get(src, 0) + at
        return [
            (
                s_,
                len({d_ for d_, _ in out_edges[s_]}),
                hop2_n.get(s_, 0),
                hop2_sum.get(s_, 0),
            )
            for s_ in sorted(out_edges)
        ]

    return _summary_kernel(
        e,
        "nationkey long, direct_reach long, hop2_reach long, "
        "arrival_checksum long",
        kernel,
    )


# ---------------------------------------------------------------------------
# Louvain phase-1 sweep: simultaneous best-neighbor modularity moves
# ---------------------------------------------------------------------------


@register(
    "graph_louvain_one_sweep",
    oracle=f"""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
      FROM dir_e GROUP BY u, v
    ),
    tot AS (SELECT SUM(w) AS big_w FROM und),
    sym AS (
      SELECT u AS i, v AS j, w FROM und
      UNION ALL SELECT v, u, w FROM und
    ),
    strength AS (SELECT i AS node, SUM(w) AS k FROM sym GROUP BY i),
    gains AS (
      SELECT s.i, s.j, 2 * t.big_w * s.w - ki.k * kj.k AS gain
      FROM sym s
      JOIN strength ki ON ki.node = s.i
      JOIN strength kj ON kj.node = s.j
      CROSS JOIN tot t
    ),
    choice AS (
      SELECT i, j, gain,
             ROW_NUMBER() OVER (PARTITION BY i ORDER BY gain DESC, j) AS rk
      FROM gains
    ),
    lab AS (
      SELECT i AS node, CASE WHEN gain > 0 THEN j ELSE i END AS community
      FROM choice WHERE rk = 1
    ),
    labeled AS (
      SELECT e.w, cu.community AS cu, cv.community AS cv
      FROM und e
      JOIN lab cu ON e.u = cu.node
      JOIN lab cv ON e.v = cv.node
    ),
    intra AS (
      SELECT cu AS community, SUM(w) AS w_in
      FROM labeled WHERE cu = cv GROUP BY cu
    ),
    degw AS (
      SELECT community, SUM(w) AS s_c FROM (
        SELECT cu AS community, w FROM labeled
        UNION ALL SELECT cv, w FROM labeled
      ) GROUP BY community
    ),
    sizes AS (SELECT community, COUNT(*) AS n_nodes FROM lab GROUP BY community)
    SELECT z.community, CAST(z.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(i.w_in, 0) AS BIGINT) AS w_intra,
           CAST(d.s_c AS BIGINT) AS degree_weight,
           CAST((COALESCE(i.w_in, 0) * {_MOD_S}) // t.big_w
                - (d.s_c * d.s_c * {_MOD_S}) // (4 * t.big_w * t.big_w)
                AS BIGINT) AS q_contrib_scaled
    FROM sizes z
    JOIN degw d ON z.community = d.community
    LEFT JOIN intra i ON z.community = i.community
    CROSS JOIN tot t
    ORDER BY z.community
    """,
    doc=(
        "Louvain community detection, phase-1 sweep: from singleton "
        "communities every node simultaneously evaluates the EXACT "
        "modularity gain of joining each neighbor's community — "
        "dQ * 2W^2 = 2W*w_ij - k_i*k_j, the standard gain formula "
        "with both denominators cleared so the argmax is a pure "
        "integer (gain DESC, j) tiebreak — and moves iff the best "
        "gain is positive (the synchronous/parallel Louvain variant; "
        "deterministic, unlike the sequential sweep whose result "
        "depends on visit order). The resulting partition is then "
        "scored with the same per-community Q contributions as "
        "graph_community_modularity, so the sweep's improvement is "
        "auditable. Corpus-sized work is the one fact edge build; "
        "gains/moves/scoring all run on the |V|-bounded summary — "
        "at 100 TB each further sweep is one more summary-sized "
        "round, never a fact rescan."
    ),
    tags=("graph", "community", "iterative", "scale"),
)
def graph_louvain_one_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        big_w = sum(w for _, _, w in rows)
        sym = [(u, v, w) for u, v, w in rows] + [
            (v, u, w) for u, v, w in rows
        ]
        strength: dict[int, int] = {}
        for i, _, w in sym:
            strength[i] = strength.get(i, 0) + w
        # per node: best (gain DESC, j ASC) neighbor move, iff gain > 0
        best: dict[int, tuple[int, int]] = {}
        for i, j, w in sym:
            gain = 2 * big_w * w - strength[i] * strength[j]
            cur = best.get(i)
            if cur is None or gain > cur[0] or (gain == cur[0] and j < cur[1]):
                best[i] = (gain, j)
        lab = {
            i: (j if gain > 0 else i) for i, (gain, j) in best.items()
        }
        intra: dict[int, int] = {}
        degw: dict[int, int] = {}
        for u, v, w in rows:
            cu, cv = lab[u], lab[v]
            if cu == cv:
                intra[cu] = intra.get(cu, 0) + w
            degw[cu] = degw.get(cu, 0) + w
            degw[cv] = degw.get(cv, 0) + w
        sizes: dict[int, int] = {}
        for comm in lab.values():
            sizes[comm] = sizes.get(comm, 0) + 1
        # inner-join semantics of the old sizes⋈degw plan: emit only
        # communities that appear on a labeled edge endpoint
        comms = sorted(cm for cm in sizes if cm in degw)
        return [
            (
                cm,
                sizes[cm],
                intra.get(cm, 0),
                degw[cm],
                (intra.get(cm, 0) * _MOD_S) // big_w
                - (degw[cm] * degw[cm] * _MOD_S) // (4 * big_w * big_w),
            )
            for cm in comms
        ]

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "community int, n_nodes long, w_intra long, "
        "degree_weight long, q_contrib_scaled long",
        kernel,
    )


# ---------------------------------------------------------------------------
# ANF / HyperBall: bottom-k neighborhood-function sketches
# ---------------------------------------------------------------------------

_ANF_K = 8
_ANF_H = 4_294_967_296  # 2^32 hash range
_ANF_T = 2  # ball radius


@register(
    "graph_anf_bottomk",
    oracle=f"""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM dir_e GROUP BY 1, 2
    ),
    nodes AS (
      SELECT DISTINCT u AS node FROM und
      UNION SELECT DISTINCT v FROM und
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM und
      UNION ALL SELECT v, u FROM und
      UNION ALL SELECT node, node FROM nodes
    ),
    s0 AS (
      SELECT node,
             [CAST(concat('0x', substr(md5(concat('anf-',
                  CAST(node AS VARCHAR))), 1, 8)) AS BIGINT)] AS s
      FROM nodes
    ),
    p1 AS (SELECT e.dst AS node, s0.s FROM sym e JOIN s0 ON s0.node = e.src),
    s1 AS (
      SELECT node,
             list_slice(list_sort(list_distinct(flatten(list(s)))),
                        1, {_ANF_K}) AS s
      FROM p1 GROUP BY node
    ),
    p2 AS (SELECT e.dst AS node, s1.s FROM sym e JOIN s1 ON s1.node = e.src),
    s2 AS (
      SELECT node,
             list_slice(list_sort(list_distinct(flatten(list(s)))),
                        1, {_ANF_K}) AS s
      FROM p2 GROUP BY node
    ),
    ball AS (
      SELECT a.src AS node, CAST(COUNT(DISTINCT b.dst) AS BIGINT) AS ball_exact
      FROM sym a JOIN sym b ON a.dst = b.src
      GROUP BY a.src
    )
    SELECT s2.node,
           b.ball_exact,
           CAST(len(s2.s) AS BIGINT) AS sketch_n,
           CAST(CASE WHEN len(s2.s) < {_ANF_K} THEN len(s2.s)
                ELSE ({_ANF_K - 1} * {_ANF_H}) // s2.s[{_ANF_K}] END
                AS BIGINT) AS ball_est
    FROM s2 JOIN ball b ON b.node = s2.node
    ORDER BY s2.node
    """,
    doc=(
        "Approximate Neighborhood Function via bottom-k sketches "
        "(Palmer/Gibbons/Faloutsos ANF; Boldi/Vigna HyperBall with "
        "KMV instead of HLL): every node starts with its own 32-bit "
        "keyed-md5 hash, and each round the sketch becomes the "
        "bottom-k of the union of neighbor sketches — after T rounds "
        "the k-th smallest hash estimates |ball(v,T)| as (k-1)*2^32/"
        "h_k (exact count below k). Bottom-k unions are DETERMINISTIC "
        "(unlike probabilistic-counter implementations), so the whole "
        "sketch state is hash-green against the oracle, and the exact "
        "2-hop ball is emitted beside the estimate for an auditable "
        "error bound. THE algorithm for diameter / effective-diameter "
        "estimation on graphs too big for APSP: per round each node "
        "exchanges O(k) ints with neighbors — at 100 TB that is T "
        "edge-shaped shuffles of k-int payloads, vs |V| BFS runs for "
        "the exact answer. (Here the summary is nation-bounded, so the "
        "rounds run in one Arrow kernel over the aggregate — round-9 "
        "rewrite; an unbounded-graph ANF would keep the shuffle form.)"
    ),
    tags=("graph", "sketch", "iterative", "scale"),
)
def graph_anf_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(pairs):
        import hashlib

        nodes = sorted({u_ for u_, _ in pairs} | {v_ for _, v_ in pairs})
        sym = (
            {(u_, v_) for u_, v_ in pairs}
            | {(v_, u_) for u_, v_ in pairs}
            | {(n_, n_) for n_ in nodes}
        )
        in_nbrs: dict[int, list[int]] = {}
        for src, dst in sym:
            in_nbrs.setdefault(dst, []).append(src)
        sk = {
            n_: [
                int(
                    hashlib.md5(f"anf-{n_}".encode()).hexdigest()[:8], 16
                )
            ]
            for n_ in nodes
        }
        for _ in range(_ANF_T):
            sk = {
                n_: sorted(
                    {h_ for src in in_nbrs[n_] for h_ in sk[src]}
                )[:_ANF_K]
                for n_ in nodes
            }
        out_nbrs: dict[int, set[int]] = {}
        for src, dst in sym:
            out_nbrs.setdefault(src, set()).add(dst)
        ball = {
            n_: len({b_ for m_ in out_nbrs[n_] for b_ in out_nbrs[m_]})
            for n_ in nodes
        }
        return [
            (
                n_,
                ball[n_],
                len(sk[n_]),
                len(sk[n_])
                if len(sk[n_]) < _ANF_K
                else ((_ANF_K - 1) * _ANF_H) // sk[n_][_ANF_K - 1],
            )
            for n_ in nodes
        ]

    return _summary_kernel(
        _trade_und(spark, sf_dir).select("u", "v"),
        "node int, ball_exact long, sketch_n long, ball_est long",
        kernel,
    )


# ---------------------------------------------------------------------------
# Spectral bisection: deflated power iteration toward the Fiedler vector
# ---------------------------------------------------------------------------

_SB_S = 10**6
_SB_T = 4


def _spectral_oracle() -> str:
    head = f"""
    WITH {_TRI_EDGE_SQL},
    coef AS (
      SELECT d.node, d.d, dm.dmax + 1 - d.d AS ci
      FROM deg d CROSS JOIN (SELECT MAX(d) AS dmax FROM deg) dm
    ),
    sym AS (
      SELECT u AS i, v AS j FROM kept UNION ALL SELECT v, u FROM kept
    ),
    v0 AS MATERIALIZED (
      SELECT node,
             CASE WHEN node % 2 = 0 THEN {_SB_S} ELSE -{_SB_S} END AS val
      FROM coef
    )"""
    parts = [head]
    for k in range(1, _SB_T + 1):
        parts.append(f""",
    it{k}_u AS MATERIALIZED (
      SELECT c.node, c.ci * v.val + COALESCE(nb.s, 0) AS u
      FROM coef c
      JOIN v{k - 1} v ON v.node = c.node
      LEFT JOIN (
        SELECT s.i AS node, SUM(vv.val) AS s
        FROM sym s JOIN v{k - 1} vv ON vv.node = s.j
        GROUP BY s.i
      ) nb ON nb.node = c.node
    ),
    it{k}_w AS MATERIALIZED (
      SELECT a.node, a.u * b.n - b.su AS w
      FROM it{k}_u a CROSS JOIN
        (SELECT COUNT(*) AS n, SUM(u) AS su FROM it{k}_u) b
    ),
    v{k} AS MATERIALIZED (
      SELECT a.node,
             CAST(FLOOR(CAST(a.w * {_SB_S} AS DOUBLE) / m.m) AS BIGINT)
               AS val
      FROM it{k}_w a CROSS JOIN
        (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM it{k}_w) m
    )""")
    parts.append(f"""
    , signs AS (
      SELECT node, val,
             CASE WHEN val > 0 THEN 1 ELSE 0 END AS side
      FROM v{_SB_T}
    ),
    cut AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cut_edges
      FROM kept k
      JOIN signs a ON a.node = k.u
      JOIN signs b ON b.node = k.v
      WHERE a.side <> b.side
    ),
    bal AS (SELECT CAST(SUM(side) AS BIGINT) AS n_side1 FROM signs)
    SELECT s.node, s.val AS v_scaled, CAST(s.side AS BIGINT) AS side,
           c.cut_edges, b.n_side1
    FROM signs s CROSS JOIN cut c CROSS JOIN bal b
    ORDER BY s.node""")
    return "".join(parts)


@register(
    "graph_spectral_bisection",
    oracle=_spectral_oracle(),
    doc=(
        "Spectral graph bisection: power iteration on B = (dmax+1)I - "
        "L (so the Laplacian's SMALLEST nontrivial eigenvector becomes "
        "B's dominant one) with the constant eigenvector DEFLATED by "
        "exact integer centering (u*n - sum(u) — multiplying by n "
        "instead of dividing keeps the projection exact), then the "
        "Fiedler-sign partition with its cut size and balance. The "
        "per-round renormalization floor(w*S/max|w|) is ONE IEEE "
        "double division on <2^53-exact integers — bit-identical in "
        "both engines — so all four iterations of vector state are "
        "hash-checked, not just the final signs. The classic "
        "partitioner behind graph-aware data placement; the four "
        "power-iteration rounds run in one Arrow summary kernel over "
        "the |V|-bounded aggregate after the one fact-sized edge "
        "build (round-9 rewrite of the per-round checkpoint + "
        "broadcast chain; matrix-free: B*v is a neighbor sum, never "
        "a materialized matrix)."
    ),
    tags=("graph", "spectral", "iterative", "scale"),
)
def graph_spectral_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        import math

        edges = _kept_filter(rows)
        deg: dict[int, int] = {}
        for u_, v_ in edges:
            deg[u_] = deg.get(u_, 0) + 1
            deg[v_] = deg.get(v_, 0) + 1
        nodes = sorted(deg)
        dmax = max(deg.values(), default=0)
        ci = {n_: dmax + 1 - deg[n_] for n_ in nodes}
        nbrs: dict[int, list[int]] = {}
        for u_, v_ in edges:
            nbrs.setdefault(u_, []).append(v_)
            nbrs.setdefault(v_, []).append(u_)
        val = {n_: (_SB_S if n_ % 2 == 0 else -_SB_S) for n_ in nodes}
        n_ct = len(nodes)
        for _ in range(_SB_T):
            u_vec = {
                n_: ci[n_] * val[n_] + sum(val[j_] for j_ in nbrs[n_])
                for n_ in nodes
            }
            su = sum(u_vec.values())
            w_vec = {n_: u_vec[n_] * n_ct - su for n_ in nodes}
            m_ = max((abs(w_) for w_ in w_vec.values()), default=0)
            m_ = max(m_, 1)
            # one IEEE double division on <2^53-exact integers, exactly
            # the (w * S)::DOUBLE / m both engines compute
            val = {
                n_: math.floor(float(w_vec[n_] * _SB_S) / float(m_))
                for n_ in nodes
            }
        side = {n_: (1 if val[n_] > 0 else 0) for n_ in nodes}
        cut = sum(1 for u_, v_ in edges if side[u_] != side[v_])
        n_side1 = sum(side.values())
        return [(n_, val[n_], side[n_], cut, n_side1) for n_ in nodes]

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "node int, v_scaled long, side long, cut_edges long, n_side1 long",
        kernel,
    )


# ---------------------------------------------------------------------------
# Weisfeiler-Lehman color refinement (2 rounds)
# ---------------------------------------------------------------------------

_WL_ROUNDS = 2


@register(
    "graph_weisfeiler_lehman",
    oracle=f"""
    WITH {{edge_sql}},
    sym AS (
      SELECT u AS i, v AS j FROM kept UNION ALL SELECT v, u FROM kept
    ),
    c0 AS (
      SELECT node, CAST(d AS VARCHAR) AS color FROM deg
    ),
    c1 AS (
      SELECT c.node,
             substr(md5(concat(c.color, '|',
               (SELECT string_agg(cn.color, ',' ORDER BY cn.color)
                FROM sym s JOIN c0 cn ON cn.node = s.j
                WHERE s.i = c.node))), 1, 16) AS color
      FROM c0 c
    ),
    c2 AS (
      SELECT c.node,
             substr(md5(concat(c.color, '|',
               (SELECT string_agg(cn.color, ',' ORDER BY cn.color)
                FROM sym s JOIN c1 cn ON cn.node = s.j
                WHERE s.i = c.node))), 1, 16) AS color
      FROM c1 c
    ),
    counts AS (
      SELECT (SELECT COUNT(DISTINCT color) FROM c0) AS k0,
             (SELECT COUNT(DISTINCT color) FROM c1) AS k1,
             (SELECT COUNT(DISTINCT color) FROM c2) AS k2
    )
    SELECT c2.node, c2.color,
           CAST(k0 AS BIGINT) AS n_colors_r0,
           CAST(k1 AS BIGINT) AS n_colors_r1,
           CAST(k2 AS BIGINT) AS n_colors_r2
    FROM c2 CROSS JOIN counts
    ORDER BY c2.node
    """.format(edge_sql=_TRI_EDGE_SQL),
    doc=(
        "Weisfeiler-Lehman color refinement (the 1-WL graph-"
        "isomorphism test, and the expressiveness ceiling of "
        "message-passing GNNs): start from degree colors, then each "
        "round every node hashes (own color | sorted multiset of "
        "neighbor colors) into a new color — md5 with a sorted "
        "string_agg makes the multiset hash deterministic in both "
        "engines, so the full color assignment is hash-checked, not "
        "just the histogram. The per-round distinct-color counts ride "
        "along (refinement is monotone: k0 <= k1 <= k2, "
        "test-asserted); equal final histograms are the 1-WL "
        "isomorphism certificate, and per-node colors are the "
        "structural-role features. Both refinement rounds run in one "
        "Arrow summary kernel over the aggregated edge relation — the "
        "same bounded-summary shape as the rest of the graph family."
    ),
    tags=("graph", "isomorphism", "iterative", "scale"),
)
def graph_weisfeiler_lehman(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        import hashlib

        edges = _kept_filter(rows)
        deg: dict[int, int] = {}
        nbrs: dict[int, list[int]] = {}
        for u_, v_ in edges:
            deg[u_] = deg.get(u_, 0) + 1
            deg[v_] = deg.get(v_, 0) + 1
            nbrs.setdefault(u_, []).append(v_)
            nbrs.setdefault(v_, []).append(u_)
        nodes = sorted(deg)
        color = {n_: str(deg[n_]) for n_ in nodes}
        k_counts = [len(set(color.values()))]
        for _ in range(_WL_ROUNDS):
            color = {
                n_: hashlib.md5(
                    (
                        color[n_]
                        + "|"
                        + ",".join(sorted(color[j_] for j_ in nbrs[n_]))
                    ).encode()
                ).hexdigest()[:16]
                for n_ in nodes
            }
            k_counts.append(len(set(color.values())))
        return [(n_, color[n_], *k_counts) for n_ in nodes]

    return _summary_kernel(
        _trade_und(spark, sf_dir),
        "node int, color string, n_colors_r0 long, n_colors_r1 long, "
        "n_colors_r2 long",
        kernel,
    )


# ---------------------------------------------------------------------------
# Directed triad census (network motifs: cycles vs feed-forward loops)
# ---------------------------------------------------------------------------


@register(
    "graph_triad_motif_census",
    oracle="""
    WITH dir_e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY src, dst
    ),
    tot AS (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM dir_e),
    strong AS MATERIALIZED (
      SELECT src, dst FROM dir_e CROSS JOIN tot WHERE w * ne >= tw
    ),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM strong GROUP BY 1, 2
    ),
    tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1 JOIN und e2 ON e2.u = e1.v
      WHERE EXISTS (SELECT 1 FROM und e3
                    WHERE e3.u = e1.u AND e3.v = e2.v)
    ),
    flags AS (
      SELECT a, b, c,
        CAST(EXISTS (SELECT 1 FROM strong s WHERE s.src=a AND s.dst=b) AS INT) AS ab,
        CAST(EXISTS (SELECT 1 FROM strong s WHERE s.src=b AND s.dst=a) AS INT) AS ba,
        CAST(EXISTS (SELECT 1 FROM strong s WHERE s.src=b AND s.dst=c) AS INT) AS bc,
        CAST(EXISTS (SELECT 1 FROM strong s WHERE s.src=c AND s.dst=b) AS INT) AS cb,
        CAST(EXISTS (SELECT 1 FROM strong s WHERE s.src=a AND s.dst=c) AS INT) AS ac,
        CAST(EXISTS (SELECT 1 FROM strong s WHERE s.src=c AND s.dst=a) AS INT) AS ca
      FROM tri
    ),
    classed AS (
      SELECT ab + ba + bc + cb + ac + ca AS n_arcs,
             CASE WHEN ab + ba + bc + cb + ac + ca = 3 AND
                       ((ab=1 AND bc=1 AND ca=1) OR (ba=1 AND cb=1 AND ac=1))
                  THEN 1 ELSE 0 END AS is_cycle,
             CASE WHEN ab + ba + bc + cb + ac + ca = 3 AND
                       NOT ((ab=1 AND bc=1 AND ca=1) OR (ba=1 AND cb=1 AND ac=1))
                  THEN 1 ELSE 0 END AS is_ffl
      FROM flags
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(SUM(CASE WHEN n_arcs = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_simple3,
           CAST(SUM(is_cycle) AS BIGINT) AS n_cycles,
           CAST(SUM(is_ffl) AS BIGINT) AS n_feedforward,
           CAST(SUM(CASE WHEN n_arcs >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_reciprocal,
           CAST(SUM(n_arcs) AS BIGINT) AS total_arcs
    FROM classed
    """,
    doc=(
        "Directed triad census over the strong-tie nation trade graph "
        "— the network-motif counts of Milo et al. (Science 2002): "
        "every undirected triangle is classified by its directed arc "
        "pattern into 3-arc CYCLES (a->b->c->a), 3-arc FEED-FORWARD "
        "loops (the motif overrepresented in regulatory/flow "
        "networks), and reciprocal-containing triads (>=4 arcs). "
        "Triangle enumeration is the same bounded wedge join as "
        "graph_triangle_count; arc direction flags come from ONE "
        "broadcast semi-join pass against the |V|^2-bounded directed "
        "edge set (six boolean lookups per triangle, never an "
        "enumeration of directed triples). Everything integer counts "
        "— hash-exact. At 100 TB the corpus stage is the one fact "
        "edge build; the census runs on the summary graph."
    ),
    tags=("graph", "motifs", "scale"),
)
def graph_triad_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kernel(rows):
        strong = set(_kept_filter(rows))
        und = sorted({(min(s_, d_), max(s_, d_)) for s_, d_ in strong})
        uset = set(und)
        out_u: dict[int, list[int]] = {}
        for u_, v_ in und:
            out_u.setdefault(u_, []).append(v_)
        n_tri = n_simple3 = n_cycles = n_ffl = n_recip = total_arcs = 0
        for a_, outs in out_u.items():
            for b_ in outs:
                for c_ in out_u.get(b_, ()):
                    if (a_, c_) not in uset:
                        continue
                    ab = (a_, b_) in strong
                    ba = (b_, a_) in strong
                    bc = (b_, c_) in strong
                    cb = (c_, b_) in strong
                    ac = (a_, c_) in strong
                    ca = (c_, a_) in strong
                    arcs = ab + ba + bc + cb + ac + ca
                    n_tri += 1
                    total_arcs += arcs
                    if arcs == 3:
                        n_simple3 += 1
                        if (ab and bc and ca) or (ba and cb and ac):
                            n_cycles += 1
                        else:
                            n_ffl += 1
                    if arcs >= 4:
                        n_recip += 1
        vals = (
            (n_simple3, n_cycles, n_ffl, n_recip, total_arcs)
            if n_tri
            else (None,) * 5  # SUM over an empty relation is NULL
        )
        return [(n_tri, *vals)]

    return _summary_kernel(
        _trade_edges(spark, sf_dir).where(F.col("src") != F.col("dst")),
        "n_triangles long, n_simple3 long, n_cycles long, "
        "n_feedforward long, n_with_reciprocal long, total_arcs long",
        kernel,
    )


# ---------------------------------------------------------------------------
# Bill-of-materials explosion (recursive descent with quantity product)
# ---------------------------------------------------------------------------

# Safety cap on descent rounds, NOT the expected depth: the loop breaks
# as soon as the frontier is empty, so the true bound is the hierarchy
# depth (ceil(log4(max partkey)) — 7 at sf0.1, 9 at sf1). 48 covers any
# 64-bit key domain (log4(2^63) < 32) with margin; hitting it would mean
# a cycle in the edge data, which the parent = key div 4 construction
# cannot produce.
_BOM_MAX_ROUNDS = 48


@register(
    "graph_bom_explosion",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey // 4 AS parent, p_partkey AS child,
             CAST(p_partkey % 3 + 1 AS BIGINT) AS qty_per
      FROM part WHERE p_partkey >= 4
    ),
    paths (anc, descendant, qty, depth) AS (
      SELECT parent, child, qty_per, 1 FROM edges
      UNION ALL
      SELECT p.anc, e.child, p.qty * e.qty_per, p.depth + 1
      FROM paths p JOIN edges e ON e.parent = p.descendant
    )
    SELECT anc AS assembly,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(qty) AS BIGINT) AS total_units,
           CAST(MAX(depth) AS BIGINT) AS max_depth
    FROM paths
    GROUP BY anc
    HAVING COUNT(*) >= 16
    ORDER BY assembly
    """,
    doc=(
        "Bill-of-materials explosion — THE classic recursive query "
        "(every MRP system's core operation): a part hierarchy "
        "(parent = key div 4, 1-3 units per child) is exploded to all "
        "(assembly, descendant) pairs with the QUANTITY PRODUCT "
        "multiplied along each path, then rolled up per assembly "
        "(component count, total units required, max depth). Spark "
        "side: iterative frontier join — paths(d+1) = paths(d) join "
        "edges on the descendant — with per-round localCheckpoint "
        "lineage truncation, looping until the frontier is EMPTY so "
        "the depth is discovered from the data (log4 of the key "
        "domain: 7 at sf0.1, 9 at sf1), exactly matching the "
        "unbounded WITH RECURSIVE oracle at any sf. Products stay "
        "small exact integers "
        "(3^depth). At 100 TB the frontier join is one hash shuffle "
        "per level and depth is the data's property — the same shape "
        "as the production BOM/org-chart/menu-tree descent."
    ),
    tags=("graph", "recursive", "part"),
)
def graph_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") >= 4)
        .select(
            F.expr("p_partkey div 4").alias("parent"),
            F.col("p_partkey").alias("child"),
            (F.col("p_partkey") % 3 + 1).cast("long").alias("qty_per"),
        )
        .cache()  # consumed once per descent round
    )
    paths = edges.select(
        F.col("parent").alias("anc"),
        F.col("child").alias("descendant"),
        F.col("qty_per").alias("qty"),
        F.lit(1).cast("long").alias("depth"),
    ).localCheckpoint(eager=True)
    frontier = paths
    for _ in range(_BOM_MAX_ROUNDS):
        nxt = (
            frontier.join(
                edges, frontier.descendant == edges.parent
            )
            .select(
                frontier.anc.alias("anc"),
                edges.child.alias("descendant"),
                (frontier.qty * edges.qty_per).alias("qty"),
                (frontier.depth + 1).alias("depth"),
            )
        )
        # frontier shrinks geometrically; checkpoint keeps each round's
        # plan flat instead of compounding the join lineage. Lazy
        # checkpoint + count fuses the materialization job and the
        # emptiness probe into ONE action per round (round 10: the
        # eager checkpoint + isEmpty pair was 2 scheduler round-trips
        # per level for the same answer)
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        paths = paths.unionByName(nxt)
        frontier = nxt
    return (
        paths.groupBy(F.col("anc").alias("assembly"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum("qty").cast("long").alias("total_units"),
            F.max("depth").cast("long").alias("max_depth"),
        )
        .filter(F.col("n_components") >= 16)
        .orderBy("assembly")
    )


# ---------------------------------------------------------------------------
# Weighted bipartite projection (supplier-part -> part co-supply graph)
# ---------------------------------------------------------------------------

_BP_TOP = 12   # parts kept per supplier before pairing (the density cap)
_BP_MIN_W = 2  # report pairs co-supplied by >= 2 suppliers


@register(
    "graph_bipartite_projection",
    oracle=f"""
    WITH sp AS (
      SELECT l_suppkey AS s, l_partkey AS p, COUNT(*) AS cnt
      FROM lineitem GROUP BY s, p
    ),
    ranked AS (
      SELECT s, p,
             ROW_NUMBER() OVER (
               PARTITION BY s ORDER BY cnt DESC, p
             ) AS rk
      FROM sp
    ),
    kept AS (SELECT s, p FROM ranked WHERE rk <= {_BP_TOP}),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS w
      FROM kept a JOIN kept b ON b.s = a.s AND b.p > a.p
      GROUP BY p1, p2
    )
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           CAST(w AS BIGINT) AS n_common_suppliers
    FROM pairs WHERE w >= {_BP_MIN_W}
    ORDER BY n_common_suppliers DESC, p1, p2
    """,
    doc=(
        "Weighted bipartite projection — the network-science step that "
        "turns a two-mode graph (supplier-supplies-part) into a "
        "one-mode co-occurrence graph (part-part, weighted by common "
        "suppliers): the substrate of co-purchase recommendations, "
        "collaboration networks, and item-item graphs. The known "
        "scale hazard is hub blowup (a supplier carrying k parts "
        "emits k^2/2 pairs), handled the production way: each "
        "supplier's part list is CAPPED to its top-12 parts by "
        "supply count before pairing (rank window, per-key bounded), "
        "so pair volume is O(suppliers x cap^2) by construction — "
        "the documented-cap pattern the MinHash shingle bound uses "
        "(dedup.py MAX_SHINGLE_DF). Pure integer counts, one hash "
        "shuffle on supplier for pairing and one on the pair key for "
        "the weight rollup."
    ),
    tags=("graph", "bipartite", "lineitem"),
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sp = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("s").orderBy(F.col("cnt").desc(), F.col("p"))
    kept = (
        sp.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BP_TOP)
        .select("s", "p")
        .cache()  # both sides of the pairing self-join
    )
    a = kept.select("s", F.col("p").alias("p1"))
    b = kept.select("s", F.col("p").alias("p2"))
    return (
        a.join(b, "s")
        .filter(F.col("p2") > F.col("p1"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common_suppliers"))
        .filter(F.col("n_common_suppliers") >= _BP_MIN_W)
        .select(
            F.col("p1").cast("long").alias("p1"),
            F.col("p2").cast("long").alias("p2"),
            "n_common_suppliers",
        )
        .orderBy(F.col("n_common_suppliers").desc(), "p1", "p2")
    )
