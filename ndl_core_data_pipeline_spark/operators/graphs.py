"""Graph-shaped relational operators: entity-resolution fuzzy matching and
hierarchy traversal.

Complements the connected-components machinery in operators/dedup.py
(min-label propagation) with the two other graph shapes a curation
pipeline needs: building the edge set in the first place (blocked fuzzy
string matching — the entity-resolution step before clustering) and
walking a hierarchy (recursive-CTE semantics, which Spark lacks natively,
expressed as logarithmic pointer doubling).

Scale notes (100 TB):
- `join_fuzzy_name_pairs` never goes n×n: candidates are generated only
  within blocking-key groups (classic entity-resolution blocking; the
  block key is the entity's most selective token), then verified with
  the exact Levenshtein predicate. Recall is bounded by the blocking
  choice and that trade-off is the documented, oracle-pinned semantics —
  the same contract as the LSH/banded dedup families.
- `tree_depth_over_edges` replaces an O(depth) iterative walk with
  O(log depth) pointer-doubling rounds over an explicit parent table:
  each round joins the ancestor-pointer state with itself, doubling the
  covered distance, so a depth-10^6 chain needs 20 keyed self-joins,
  each shuffling one row per node (three longs, no payload). Lineage is
  cut per round (localCheckpoint) exactly like dedup's pointer-jumping
  clusters.
- `graph_tree_depth_root`'s hierarchy is implicit-arithmetic (heap
  parent (k-1) DIV 2), so it skips iteration entirely: depth and branch
  are bit-arithmetic closed forms, a map-only zero-shuffle plan with no
  key-density assumption.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load

# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy name matching

_FUZZY_MAX_DIST = 2


def join_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs over distinct part names: block on
    the last name token (the most selective one for 'adjective noun'
    entities), generate within-block pairs ordered name_a < name_b, and
    keep pairs within Levenshtein distance 2. The distinct-first shape
    means matching cost scales with entity vocabulary, not row count;
    the self-join only ever compares names sharing a block key."""
    names = (
        load(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("block", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    a = names.select(F.col("p_name").alias("name_a"), "block")
    b = names.select(F.col("p_name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
    )


_FUZZY_SQL = f"""
WITH names AS (
  SELECT DISTINCT p_name,
         list_extract(string_split(p_name, ' '), -1) AS block
  FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""

# Sweep-only override oracle (round 18): identical query with DuckDB's
# byte-based levenshtein swapped for the harness-registered code-point
# UDF (tests/oracle.duckdb_conn registers lev_cp). Multibyte fixtures
# (unicode/compound/duprow-compound sweeps) compare the FULL result with
# this; the registered oracle above stays stock SQL because the driver's
# DuckDB has no UDFs — on the driver's all-ASCII names the two are
# byte-for-byte the same query.
# word-boundary replace, not substring: a bare .replace would also
# rewrite any future *_levenshtein identifier (damerau_levenshtein)
# into an undefined function (r18 ADVICE, low)
FUZZY_SQL_CODEPOINT = re.sub(r"\blevenshtein\(", "lev_cp(", _FUZZY_SQL)

# ---------------------------------------------------------------------------
# Hierarchy traversal: recursive-CTE semantics via pointer doubling

# implicit binary-heap hierarchy over part keys: parent(k) = (k-1) DIV 2,
# root = 0 — a deterministic tree derived from the synthetic schema (the
# testdata carries no explicit parent column); depth ≤ ⌊log2 n⌋


def tree_depth_over_edges(
    edges: DataFrame,
    node: str = "node",
    parent: str = "parent",
    rounds: int = 20,
) -> DataFrame:
    """General recursive-CTE replacement by pointer doubling over an
    EXPLICIT parent-edge table: one row per node, roots self-looped
    (parent == node). Because the table lists every node of the tree,
    every parent value is itself a node row, so the doubling join is
    total — sparse or non-contiguous ids are fine (the contract is
    completeness of the NODE SET, not density of the id space). Each
    round joins the state with itself on anc = node, doubling the
    horizon; ``rounds`` must satisfy 2^rounds >= max depth (default
    covers depth 10^6). Root self-loops contribute 0 steps, so depths
    are exact. Returns (node, root, depth)."""
    state = edges.select(
        F.col(node).alias("node"),
        F.col(parent).alias("anc"),
        F.when(F.col(parent) == F.col(node), F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("d"),
    )
    for _ in range(rounds):
        a = state.alias("a")
        b = state.alias("b")
        state = (
            a.join(b, F.col("a.anc") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.anc").alias("anc"),
                (F.col("a.d") + F.col("b.d")).alias("d"),
            )
            .localCheckpoint()
        )
    return state.select(
        "node", F.col("anc").alias("root"), F.col("d").alias("depth")
    )


def graph_tree_depth_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node depth and top-level branch of the implicit heap hierarchy.

    The hierarchy here is ARITHMETIC (parent(k) = (k-1) DIV 2), so the
    whole walk has a closed form and the right 100 TB plan is map-only,
    zero joins, zero shuffles: with heap index i = k + 1, depth(k) =
    ⌊log2 i⌋ = length(bin(i)) - 1 (exact integer bit-length, no float
    log), and the depth-1 ancestor is the top two bits: shiftright(i,
    depth - 1) - 1 ∈ {1, 2}. Unlike the previous pointer-doubling form
    (whose a.anc == b.node join silently dropped nodes whose ancestors
    were filtered out of part — the round-6 ADVICE item), this has no
    key-density assumption at all: each row is computed from its own key.
    Hierarchies given as EXPLICIT parent tables use
    tree_depth_over_edges, which keeps the O(log depth) doubling shape.
    The oracle is DuckDB's WITH RECURSIVE over the same parent function."""
    # the heap DOMAIN is k >= 0: a NULL key has no position, and neither
    # does a negative one (two's-complement bin() would hand negatives a
    # garbage depth of 63 while the oracle's cur > 0 recursion guard
    # hands them 0 — extreme-BIGINT axis find). Both sides drop them.
    part = (
        load(spark, sf_dir, "part")
        .select("p_partkey")
        .filter(F.col("p_partkey") >= 0)
    )
    node = F.col("p_partkey").cast("bigint")
    # k = 2^63-1 is IN domain but its heap index i = k+1 wraps to -2^63,
    # whose 64-bit pattern equals unsigned 2^63: bin() length still
    # yields the exact depth 63, and shiftrightUNSIGNED (not the
    # arithmetic shift, which smears the sign bit) yields the exact
    # top-two-bits ancestor. For every other in-domain k the two shifts
    # are identical (i >= 1 has a clear sign bit).
    depth = (F.length(F.bin(node + 1)) - 1).cast("bigint")
    top = F.when(depth == 0, F.lit(0).cast("bigint")).otherwise(
        F.expr(
            "CAST(shiftrightunsigned(CAST(p_partkey AS BIGINT) + 1, "
            "CAST(length(bin(CAST(p_partkey AS BIGINT) + 1)) AS INT) - 2) - 1 "
            "AS BIGINT)"
        )
    )
    return part.select(
        node.alias("p_partkey"),
        depth.alias("depth"),
        top.alias("top_branch"),
    )


_TREE_SQL = """
WITH RECURSIVE walk AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS steps FROM part
  WHERE p_partkey >= 0
  UNION ALL
  SELECT node, (cur - 1) // 2, steps + 1 FROM walk WHERE cur > 0
)
SELECT node AS p_partkey, CAST(MAX(steps) AS BIGINT) AS depth,
       CAST(COALESCE(MAX(CASE WHEN cur IN (1, 2) THEN cur END), 0) AS BIGINT)
         AS top_branch
FROM walk GROUP BY node
"""


TRI_MINSUP = 2  # co-order support for triangle edges (denser than the
# frequent-pairs report's threshold so the graph has closed wedges)


def _affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (part_a < part_b) co-order edges above TRI_MINSUP support."""
    from .aggregates import frequent_pairs

    return frequent_pairs(spark, sf_dir, minsup=TRI_MINSUP).select(
        "part_a", "part_b"
    )


def _triangle_count_from_edges(e: DataFrame) -> DataFrame:
    """Degree-oriented triangle count (the skew-safe form).

    Point every edge at its higher-rank endpoint, rank = (degree, id)
    lexicographic — a total order, so orientation is deterministic and
    acyclic. Each triangle then appears exactly once as two out-edges
    u→v, u→w from its lowest-rank corner plus the closing oriented edge
    v→w (rank(v) < rank(w)). The wedge join groups on the SOURCE of
    oriented edges, whose out-degree is bounded by O(√m) / graph
    arboricity regardless of max degree — a power-law hub with degree d
    contributes O(d) wedges instead of O(d²), which is what makes this
    survive skewed co-purchase graphs at 100 TB (the naive canonical-order
    wedge join, kept in tests/reference_forms.py and pinned equal by
    test, puts degree² rows on one key). Costs vs naive: one extra keyed
    degree aggregation plus two keyed joins to attach ranks — all
    map-side-combinable, no new skew introduced (the degree table is
    uniform in vertex id)."""
    deg = (
        e.select(F.col("part_a").alias("v"))
        .unionAll(e.select(F.col("part_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("v", "part_a"), "part_a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("v", "part_b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "part_b",
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("part_a") < F.col("part_b"))
    )
    o = ranked.select(
        F.when(a_first, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
        F.when(a_first, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
    )
    o1 = o.alias("o1")
    o2 = o.alias("o2")
    # each unordered out-pair once: order the two wedge tips by rank, so the
    # closing oriented edge (if present) is exactly tip1→tip2
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).filter(
        (F.col("o1.deg_dst") < F.col("o2.deg_dst"))
        | (
            (F.col("o1.deg_dst") == F.col("o2.deg_dst"))
            & (F.col("o1.dst") < F.col("o2.dst"))
        )
    )
    closing = o.select(
        F.col("src").alias("c_src"), F.col("dst").alias("c_dst")
    ).alias("o3")
    tri = wedges.join(
        closing,
        (F.col("c_src") == F.col("o1.dst")) & (F.col("c_dst") == F.col("o2.dst")),
        "left_semi",
    )
    n_tri = tri.groupBy().agg(F.count("*").alias("n_triangles"))
    n_edges = e.groupBy().agg(F.count("*").alias("n_edges"))
    return n_edges.crossJoin(F.broadcast(n_tri))


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the basket-affinity graph (edges = part pairs
    frequently co-ordered, from aggregates.frequent_pairs), computed with
    degree orientation so per-key wedge work is arboricity-bounded — see
    _triangle_count_from_edges. Output: one row (n_edges, n_triangles).

    The edge list is localCheckpointed once (the same cut graph_pagerank
    makes): the co-order derivation feeds FIVE consumers in the wedge
    plan (degrees, both wedge sides, the closing edge, n_edges), and
    without the cut each re-derived it from lineitem — 16 fact-table
    scans in one plan. Round-9 A/B at sf0.1, best-of-3 interleaved:
    2.36-2.61 s direct vs 2.03-2.15 s cut, identical output; at 100 TB
    the win is the 15 saved fact scans, not the 20%."""
    # r19: an eager->lazy A/B at sf1 measured flat (lazy 3.48/4.08 vs
    # eager 3.83/3.94 min/median) — eager kept, no churn.
    e = _affinity_edges(spark, sf_dir).localCheckpoint(eager=True)
    return _triangle_count_from_edges(e)


def _triangle_sql() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MINSUP}
), tri AS (
  SELECT 1 AS one FROM edges e1
  JOIN edges e2 ON e1.pb = e2.pa
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*) FROM tri) AS n_triangles
"""


# ---------------------------------------------------------------------------
# PageRank (fixed-iteration, deterministic)

PR_DAMP = 0.85
PR_ITERS = 3
_PR_DEC = "decimal(27,10)"  # exact partial sums for ~1/N-magnitude ranks


def _round10_det(col):
    """10-dp deterministic rounding (see _util.round6_det): ranks are
    O(1/N), so 6 dp would crush them — 10 dp keeps 5+ significant digits
    at 100k vertices while staying an exact shared intermediate."""
    return F.floor(col * F.lit(1e10) + F.lit(0.5)) / F.lit(1e10)


def graph_pagerank(spark, sf_dir):
    """PageRank over the (symmetrized) basket-affinity graph, PR_ITERS
    power iterations, top-100 by scaled rank. The at-scale shape: each
    iteration is ONE keyed join (edge src → rank table) plus ONE keyed
    sum per destination — contributions cast to decimal(27,10) so the
    per-vertex sum is exact and order-independent, then the new rank
    rounds to a 10-dp shared intermediate so iteration i+1's inputs are
    bit-identical in both engines. The vertex-count scalar rides as a
    broadcast one-row table (no collect). Every vertex of this graph has
    degree ≥ 1 (vertices are edge endpoints), so there is no dangling
    mass to redistribute; the left join + coalesce keeps the plan
    correct for general graphs anyway. Output rank is pr·N (mean 1.0),
    rounded 6 dp. Oracle: the same iterations unrolled as CTEs."""
    e = _affinity_edges(spark, sf_dir)
    # materialize the (small) symmetric edge list once: the co-order
    # edge DERIVATION is the expensive subtree, and without a cut it
    # re-executes inside every iteration's contribution join (measured
    # 5.2 s -> 3.2 s warm at sf0.1 for 3 iterations)
    sym = (
        e.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .unionAll(
            e.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    deg = (
        sym.groupBy("src").agg(F.count("*").alias("deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=True)
    )
    nrow = F.broadcast(deg.agg(F.count("*").cast("double").alias("n")))
    r = deg.crossJoin(nrow).select(
        "node", "deg", "n", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(PR_ITERS):
        # pr/deg is a DERIVED double: casting it straight to decimal
        # rounds the shortest repr (Spark BigDecimal.valueOf, HALF_UP)
        # vs the binary expansion (DuckDB) — at a 10-dp half boundary
        # the two engines produce decimals one ulp apart, which rode
        # through the last iteration into a 1e-6 final-rank divergence
        # on the NULL-thinned graph (NULLHEAVY_r15). _round10_det makes
        # the contribution a bit-identical shared double FIRST (the
        # round6_det discipline); the decimal cast of a k/1e10 double is
        # then exact in both engines. Contributions are O(1/N)/deg, so
        # 10 dp keeps ≥4 significant digits ahead of the 6-dp output.
        contrib = sym.join(r, sym["src"] == r["node"]).select(
            sym["dst"].alias("cn"),
            _round10_det(r["pr"] / r["deg"]).alias("c"),
        )
        sums = contrib.groupBy("cn").agg(
            F.sum(F.col("c").cast(_PR_DEC)).cast("double").alias("s")
        )
        r = (
            deg.crossJoin(nrow)
            .join(sums, deg["node"] == sums["cn"], "left")
            .select(
                "node",
                "deg",
                "n",
                _round10_det(
                    (1.0 - PR_DAMP) / F.col("n")
                    + F.lit(PR_DAMP) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
        )
    from ._util import round6_det

    return (
        r.select(
            F.col("node").alias("part"),
            round6_det(F.col("pr") * F.col("n")).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), "part")
        .limit(100)
    )


def _pagerank_sql() -> str:
    # MATERIALIZED on every multiply-referenced CTE: DuckDB otherwise
    # inlines them, re-running the items self-join + edge aggregation
    # inside each of the PR_ITERS contribution CTEs — at sf3 that
    # recomputation spilled 79 GB of temp disk before the round window
    # closed (PARITY_SF3_r18 residual; engine side completed fine).
    # Purely physical: result sets are identical.
    base = f"""
WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MINSUP}
),
sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM edges
        UNION ALL SELECT pb, pa FROM edges),
deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src),
nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nv) AS pr FROM deg)"""
    parts = [base]
    for i in range(PR_ITERS):
        parts.append(
            f""",
c{i} AS (SELECT s.dst AS node,
  CAST(SUM(CAST(FLOOR(r.pr / r.deg * 10000000000.0 + 0.5) / 10000000000.0
               AS DECIMAL(27,10))) AS DOUBLE) AS s
  FROM sym s JOIN r{i} r ON s.src = r.node GROUP BY s.dst),
r{i + 1} AS (SELECT d.node, d.deg,
  FLOOR(({1.0 - PR_DAMP!r} / (SELECT n FROM nv)
         + {PR_DAMP!r} * COALESCE(c.s, 0.0)) * 10000000000.0 + 0.5)
    / 10000000000.0 AS pr
  FROM deg d LEFT JOIN c{i} c ON d.node = c.node)"""
        )
    parts.append(
        f"""
SELECT node AS part,
       FLOOR(pr * (SELECT n FROM nv) * 1000000.0 + 0.5) / 1000000.0
         AS pagerank
FROM r{PR_ITERS} ORDER BY pagerank DESC, part LIMIT 100"""
    )
    return "".join(parts)


def register(reg) -> None:
    reg.add("join_fuzzy_name_pairs", join_fuzzy_name_pairs, _FUZZY_SQL)
    reg.add("graph_tree_depth_root", graph_tree_depth_root, _TREE_SQL)
    reg.add("graph_triangle_count", graph_triangle_count, _triangle_sql())
    reg.add("graph_pagerank", graph_pagerank, _pagerank_sql())
