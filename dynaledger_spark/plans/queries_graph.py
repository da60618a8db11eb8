"""Graph analytics over a derived co-purchase graph (round-4 additions).

The edge set is derived relationally: two parts are connected when they
appear in the SAME order at least MIN_SUPPORT times across the corpus
(the support threshold keeps the graph sparse — raw single-co-occurrence
edges on dense catalogs approach |parts|²). Connected components already
live in operators/graph.py (dedup_clusters); this module adds the two
other staples, degree distribution and triangle counting.

Scale posture: pair generation is grouped per order, so its cost is
Σ k_i·(k_i−1)/2 over order sizes — bounded by the max basket size (13 in
the testdata), never corpus-quadratic. A pathological hot basket (a
10⁶-line order) is additionally guarded by the MAX_BASKET row_number
cap (oracle-mirrored, probe-tested) — the LSH-bucket treatment. The triangle
join orders each edge a<b and joins edges-to-wedges-to-closures — the
standard distributed edge-iterator; at 100 TB you'd pre-partition edges
by low vertex and optionally degree-order (b counts only wedges at its
lower-degree endpoint) to bound the wedge explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register

MIN_SUPPORT = 2
# Hot-basket guard: pair generation is quadratic IN THE BASKET, so one
# degenerate 10⁶-line order would emit 5·10¹¹ pairs from a single key —
# the same failure class as an uncapped LSH bucket. Keep at most
# MAX_BASKET lines per order (deterministic: lowest (partkey, linecount)
# first) before pairing. 64 ≫ any real basket (testdata max 13), so
# results are unchanged on sane data, and the oracle applies the
# identical cap so the query stays exact even when the guard engages.
MAX_BASKET = 64

_EDGES_DUCK = f"""
        capped AS (
            SELECT l_orderkey, l_partkey FROM (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ) QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_partkey) <= {MAX_BASKET}
        ),
        pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM capped a JOIN capped b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (
            SELECT pa, pb FROM pairs
            GROUP BY pa, pb HAVING COUNT(*) >= {MIN_SUPPORT}
        )
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-purchase edges with canonical pa < pb."""
    from dynaledger_spark.catalog import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return edges_from_lineitem(li)


def edges_from_lineitem(li: DataFrame) -> DataFrame:
    """Capped, deduped, support-thresholded co-purchase edge derivation.

    Split out so the hot-basket probe test can drive it with a synthetic
    degenerate order (tests/test_graph.py). Distinct parts per order
    first (a part repeated within one order is one basket membership),
    then the MAX_BASKET row_number cap, then per-order pair generation.
    """
    from pyspark.sql import Window

    distinct_lines = li.select("l_orderkey", "l_partkey").distinct()
    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    capped = (
        distinct_lines.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAX_BASKET)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
        .select("pa", "pb")
    )


@register(
    "copurchase_degree_hist",
    doc="degree histogram of the support-thresholded co-purchase graph",
    oracle=f"""
        WITH {_EDGES_DUCK},
        deg AS (
            SELECT v, COUNT(*) AS degree FROM (
                SELECT pa AS v FROM edges UNION ALL SELECT pb AS v FROM edges
            ) GROUP BY v
        )
        SELECT degree, COUNT(*) AS n_vertices
        FROM deg GROUP BY degree
    """,
)
def copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution: undirected degree = occurrences of the vertex
    on either edge end (edges are canonical a<b, so the unionAll double-
    counts nothing). Two hash aggregates; the histogram output is
    O(max_degree) rows regardless of corpus size — the shape you chart
    to find hub products before running anything quadratic.
    """
    edges = _edges(spark, sf_dir)
    vertices = edges.select(F.col("pa").alias("v")).unionAll(
        edges.select(F.col("pb").alias("v"))
    )
    deg = vertices.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


@register(
    "copurchase_triangles",
    doc="exact triangle count of the co-purchase graph (edge-iterator join)",
    oracle=f"""
        WITH {_EDGES_DUCK}
        SELECT CAST((SELECT COUNT(*)
                     FROM edges e1
                     JOIN edges e2 ON e2.pa = e1.pb
                     JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
                    AS BIGINT) AS n_triangles,
               CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global triangle count by DEGREE-ORIENTED edge iteration
    (the "compact-forward" refinement, Latapy 2008): re-orient every
    undirected edge from its lower- to its higher-(degree, id) endpoint,
    so each triangle a≺b≺c is found exactly once as the wedge
    (a→b, a→c) closed by b→c. Wedge count drops from Σ deg² over middle
    vertices to Σ outdeg² with outdeg ≤ O(√m) — the refinement the naive
    form's docstring promised "at hub-heavy scale": the round-9
    combined clone+skew probe densified the co-purchase graph to 1.2M
    edges / max-degree 222 (Σ deg² ≈ 300M wedges) and the naive wedge
    join measured 16-22x; orientation is the 100 TB posture because a
    denser graph concentrates MORE of the savings on the hubs. The
    oracle keeps the naive unoriented form — parity proves the
    orientation output-equivalent.
    """
    edges = _edges(spark, sf_dir)
    arcs = edges.select(F.col("pa").alias("v")).unionAll(
        edges.select(F.col("pb").alias("v"))
    )
    deg = arcs.groupBy("v").agg(F.count(F.lit(1)).alias("dg"))
    e = (
        edges.join(deg.select(F.col("v").alias("pa"), F.col("dg").alias("da")), "pa")
        .join(deg.select(F.col("v").alias("pb"), F.col("dg").alias("db")), "pb")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = e.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
    )
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    wedges = o1.join(
        o2,
        (F.col("o2.src") == F.col("o1.src"))
        & (
            (F.col("o1.dst_d") < F.col("o2.dst_d"))
            | (
                (F.col("o1.dst_d") == F.col("o2.dst_d"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    )
    tri = wedges.join(
        o3,
        (F.col("o3.src") == F.col("o1.dst")) & (F.col("o3.dst") == F.col("o2.dst")),
    )
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")).crossJoin(
        edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )


@register(
    "pagerank_copurchase",
    doc="PageRank over the co-purchase graph (8 power iterations, d=0.85)",
    oracle=None,  # iterative float recurrence → engine-specific last ulps;
    # property-tested against a transparent python reference in
    # tests/test_graph.py with 1e-9 relative tolerance
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank as repeated join+aggregate — the canonical iterative
    graph workload expressed relationally. Undirected edges become two
    directed arcs; every vertex has degree ≥ 1 (edges define the vertex
    set) so there are no dangling-mass corrections. Each iteration is
    contributions = ranks ⋈ arcs (co-partitioned on src) → groupBy(dst);
    8 iterations deepen one lazy plan — production would checkpoint
    every ~5 iterations to cut lineage (operators/graph.py does exactly
    that for connected components). Rows-only: cross-engine float sums
    of contributions are order-dependent in the last ulps; correctness
    is pinned by the python-reference property test instead.
    """
    return pagerank(_edges(spark, sf_dir), iters=8, damping=0.85)


def pagerank(edges: DataFrame, iters: int = 8, damping: float = 0.85) -> DataFrame:
    """PageRank on canonical (pa < pb) undirected edges; returns
    (v, rank) rounded to 9dp for output stability.

    A LAZY
    localCheckpoint every 4 iterations truncates lineage so late
    iterations don't re-plan the whole prefix (lazy, so AQE keeps
    optimizing each executed segment — the eager form is the
    plan-pinning trap round 4 root-caused in the minhash bench).
    """
    arcs = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = arcs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()  # scalar: |V|, bounded driver value
    if n == 0:  # empty graph: no vertices, no ranks (empty-corpus sweep)
        return deg.select(
            F.col("src").alias("v"), F.lit(0.0).alias("rank")
        ).limit(0)
    # NOTE (r13 measure-first): hoisting the deg join out of the loop
    # (ranks ⋈ (arcs⋈deg)_invariant) was tried both persisted and lazy
    # and measured SLOWER at sf0.1 (4.7 → 6.3 s min-of-8): the planner
    # handles this 3-way tiny-join loop by broadcasting the (ranks⋈deg)
    # pair and streaming the arc table, which the pre-joined form
    # defeats. Kept as-is deliberately.
    ranks = deg.select("src", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for i in range(iters):
        contribs = (
            ranks.join(deg, "src")
            .join(arcs, "src")
            .select(F.col("dst"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
            .select(
                F.col("dst").alias("src"),
                (F.lit(base) + F.lit(damping) * F.col("in_mass")).alias("rank"),
            )
        )
        if i % 4 == 3 and i != iters - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        F.col("src").alias("v"), F.round(F.col("rank"), 9).alias("rank")
    )


_BFS_DEPTH = 4


@register(
    "bfs_levels_copurchase",
    doc="BFS hop levels from the min-id vertex (4 hops, iterative frontier joins)",
    oracle=f"""
        WITH RECURSIVE {_EDGES_DUCK},
        arcs AS (
            SELECT pa AS src, pb AS dst FROM edges
            UNION ALL
            SELECT pb, pa FROM edges
        ),
        walk(v, lvl) AS (
            SELECT CAST((SELECT MIN(pa) FROM edges) AS BIGINT), 0
            UNION
            SELECT a.dst, w.lvl + 1
            FROM walk w JOIN arcs a ON a.src = w.v
            WHERE w.lvl < {_BFS_DEPTH}
        )
        SELECT v, CAST(MIN(lvl) AS BIGINT) AS level
        FROM walk GROUP BY v
    """,
)
def bfs_levels_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first traversal — the graph staple the module still
    lacked (components, PageRank, k-core, triangles are all here).
    Levels are pure integers, so unlike PageRank this iterative
    operator is ORACLE-EXACT, and the DuckDB side re-derives it with a
    genuinely different algorithm (a recursive CTE enumerating all
    ≤4-hop walks, deduped per (v, lvl), MIN-folded) — strong
    independent evidence for the frontier semantics.
    """
    return bfs_levels(_edges(spark, sf_dir), max_depth=_BFS_DEPTH)


def bfs_levels(edges: DataFrame, max_depth: int) -> DataFrame:
    """(v, level) for every vertex within max_depth hops of the
    minimum-id vertex; level = hop distance (0 for the seed).

    Classic frontier BFS as joins: each round expands the CURRENT
    frontier along arcs, anti-joins the visited set, and checkpoints
    the (small) frontier eagerly — per-round plans stay flat and the
    round's count() doubles as the empty-frontier convergence test
    (same pattern as kcore below). Work per round is
    |frontier ⋈ arcs|, the textbook distributed-BFS cost; the visited
    set only ever APPENDS, so at 100 TB you'd keep it bucketed by v
    for the anti-join and this shape survives unchanged.
    """
    arcs = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    )
    seed = edges.agg(F.min("pa").cast("bigint").alias("v")).select(
        "v", F.lit(0).cast("bigint").alias("level")
    )
    visited = seed.localCheckpoint(eager=True)
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.select(F.col("v").alias("src"))
            .join(arcs, "src")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited, "v", "left_anti")
            .select("v", F.lit(depth).cast("bigint").alias("level"))
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


# The DuckDB oracle re-derives the 2-core by UNROLLED peeling:
# keep_{i+1} = vertices whose degree restricted to keep_i is >= k, a
# monotone-shrinking set whose fixpoint IS the k-core. Peeling depth is
# the longest chain of dependent removals (measured: 1 round at
# sf0.001, 4 at sf0.01, 6 at sf0.1), so 12 unrolled rounds is a 2×
# margin — once the set stops changing, further rounds are identity,
# so over-unrolling can never change the result, only under-unrolling
# could (tests/test_graph.py pins convergence within the margin).
_KCORE_UNROLL = 12


def _kcore_oracle(k: int, rounds: int) -> str:
    # every keep_i is referenced TWICE by keep_{i+1} — without
    # MATERIALIZED, DuckDB inlines the chain into 2^rounds copies of
    # the whole lineitem subtree (observed as an fd-exhaustion blowup)
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
        keep{i} AS MATERIALIZED (
            SELECT a.src AS v FROM arcs a
            JOIN keep{i - 1} s ON a.src = s.v
            JOIN keep{i - 1} t ON a.dst = t.v
            GROUP BY a.src HAVING COUNT(*) >= {k}
        )""")
    return f"""
        WITH {_EDGES_DUCK},
        arcs AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM edges
            UNION ALL
            SELECT pb, pa FROM edges
        ),
        keep0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM arcs),
        {",".join(steps)}
        SELECT a.src AS v, COUNT(*) AS core_degree
        FROM arcs a
        JOIN keep{rounds} s ON a.src = s.v
        JOIN keep{rounds} t ON a.dst = t.v
        GROUP BY a.src HAVING COUNT(*) >= {k}
    """


@register(
    "kcore_copurchase",
    doc="2-core of the co-purchase graph (iterative peeling to fixpoint)",
    oracle=_kcore_oracle(k=2, rounds=_KCORE_UNROLL),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-core — the maximal subgraph where every vertex keeps degree
    ≥ k — is the standard dense-region extractor (spam rings, bot
    clusters, community seeds). Computed by iterative peeling: drop
    vertices under degree k, drop their edges, repeat until stable.
    k=2 (prune all tree appendages, keep the cyclic backbone) stays
    non-empty across scale factors — the sparser sf0.1 graph has an
    empty 3-core; the operator takes any k.
    """
    return kcore(_edges(spark, sf_dir), k=2)


def kcore(edges: DataFrame, k: int, max_rounds: int = 200) -> DataFrame:
    """Vertices of the k-core with their in-core degree.

    Each round the next edge set is EAGERLY localCheckpoint-ed: persist
    alone is not enough for iterative Spark — cached data short-circuits
    execution but the LOGICAL plan still nests (deg references cur twice
    plus the two semi-joins ⇒ ~3× plan growth per round), and analysis/
    optimization time explodes after a handful of rounds (measured:
    round 4 took 340 s at sf0.01 under persist-only; sub-second with the
    checkpoint, which replaces the plan root outright — the same pattern
    as connected components in operators/graph.py). The checkpoint
    doubles as the per-round materialization; convergence = an unchanged
    edge count, which implies unchanged degrees and hence the fixpoint.
    """
    cur = edges.localCheckpoint(eager=True)
    prev_edges = cur.count()
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("pa").alias("v"))
            .unionAll(cur.select(F.col("pb").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        nxt = (
            cur.join(keep.withColumnRenamed("v", "pa"), "pa", "left_semi")
            .join(keep.withColumnRenamed("v", "pb"), "pb", "left_semi")
            .select("pa", "pb")
            .localCheckpoint(eager=True)
        )
        n_edges = nxt.count()
        done = n_edges == prev_edges
        cur = nxt
        prev_edges = n_edges
        if done:
            break
    deg = (
        cur.select(F.col("pa").alias("v"))
        .unionAll(cur.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return deg.filter(F.col("core_degree") >= k)


# ---------------------------------------------------------------------------
# Portable fixed-point PageRank (round 7) — the oracle-exact twin of
# pagerank_copurchase, the same way minhash_portable_pairs twins the
# xxhash64 MinHash: float power iteration cannot match DuckDB bitwise
# (combine-order drift), but scaled-INTEGER iteration can. Ranks are
# held as R = rank * 10^12 (bigint); one step is
#     R'(v) = (0.15 * 10^12) // N  +  (17 * Σ_{u→v} R(u) // deg(u)) // 20
# — floor divisions and bigint sums only, so every engine that
# implements integer arithmetic agrees exactly, per iteration, forever.
# d = 0.85 becomes the rational 17/20.
# ---------------------------------------------------------------------------
_PR_SCALE = 10**12
_PR_ROUNDS = 8


def _pagerank_oracle(rounds: int) -> str:
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
        pr{i} AS MATERIALIZED (
            SELECT d.v, d.deg,
                   CAST((15 * {_PR_SCALE} // 100) // (SELECT n FROM nv)
                        + (17 * COALESCE(c.s, 0)) // 20 AS BIGINT) AS r
            FROM deg d
            LEFT JOIN (
                SELECT a.dst AS v, SUM(p.r // p.deg) AS s
                FROM arcs a JOIN pr{i - 1} p ON a.src = p.v
                GROUP BY a.dst
            ) c ON c.v = d.v
        )""")
    return f"""
        WITH {_EDGES_DUCK},
        arcs AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM edges
            UNION ALL
            SELECT pb, pa FROM edges
        ),
        deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS deg FROM arcs GROUP BY src),
        nv AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
        pr0 AS MATERIALIZED (
            SELECT v, deg, CAST({_PR_SCALE} // (SELECT n FROM nv) AS BIGINT) AS r
            FROM deg
        ),
        {",".join(steps)}
        SELECT v, r AS pr_fixed FROM pr{rounds}
    """


@register(
    "pagerank_portable_fixedpoint",
    doc="integer fixed-point PageRank (8 rounds, d=17/20, rank*1e12) — oracle-exact twin of the float PageRank",
    oracle=_pagerank_oracle(_PR_ROUNDS),
)
def pagerank_portable_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with EXACT integer arithmetic: ranks scaled by 10^12,
    damping as the rational 17/20, per-edge shares and the damped sum
    via floor division — no floating point anywhere, so the DuckDB
    oracle (the same 8 iterations as unrolled MATERIALIZED CTEs)
    matches bitwise. The float `pagerank_copurchase` stays as the
    engine-native operator; this twin turns its correctness evidence
    from property-tests into a driver-checked oracle row, exactly the
    MinHash/SimHash portable-twin pattern. Per-round eager
    localCheckpoint keeps the iterative plan flat (the kcore/BFS
    pattern); fixed-point truncation error vs true PageRank is
    ≤ rounds/10^12 per vertex — three digits below anything a ranking
    consumer can observe.

    Scale: each round is one join on the arc list + one dst aggregate —
    the canonical distributed PageRank step; at 100 TB you'd
    pre-partition arcs by src and co-partition the rank table, exactly
    as the plan's hash exchanges do.
    """
    edges = _edges(spark, sf_dir)
    arcs = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    )
    deg = arcs.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n = deg.count()  # driver scalar: |V|, bounded, deterministic
    if n == 0:  # empty graph (empty-corpus sweep): emit the empty schema
        return deg.select("v", F.col("deg").cast("bigint").alias("pr_fixed"))
    base = _PR_SCALE // n
    teleport = (15 * _PR_SCALE // 100) // n
    cur = deg.withColumn("r", F.lit(base).cast("bigint")).localCheckpoint(eager=True)
    for _ in range(_PR_ROUNDS):
        contrib = (
            arcs.join(
                cur.select(
                    F.col("v").alias("src"), F.expr("r div deg").alias("share")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("share").alias("s"))
        )
        cur = (
            deg.join(contrib, "v", "left")
            .withColumn(
                "r",
                (
                    F.lit(teleport)
                    + F.expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20")
                ).cast("bigint"),
            )
            .select("v", "deg", "r")
            .localCheckpoint(eager=True)
        )
    return cur.select("v", F.col("r").alias("pr_fixed"))


# ---------------------------------------------------------------------------
# Synchronous label propagation communities, fixed rounds (round 8)
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    head = f"""
        WITH {_EDGES_DUCK},
        bidir AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM edges
            UNION ALL SELECT pb AS src, pa AS dst FROM edges
        ),
        l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM bidir)"""
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
        l{r} AS MATERIALIZED (
            SELECT v, lbl FROM (
                SELECT b.src AS v, l.lbl,
                       row_number() OVER (PARTITION BY b.src
                                          ORDER BY COUNT(*) DESC, l.lbl) AS rn
                FROM bidir b JOIN l{r - 1} l ON l.v = b.dst
                GROUP BY b.src, l.lbl
            ) WHERE rn = 1
        )""")
    return (
        head + "," + ",".join(rounds)
        + f"""
        SELECT lbl AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(v) AS BIGINT) AS min_member,
               CAST(SUM(v) AS BIGINT) AS member_sum
        FROM l{_LPA_ROUNDS} GROUP BY lbl
    """
    )


@register(
    "lpa_communities_fixed",
    doc=f"synchronous label propagation communities, {_LPA_ROUNDS} rounds, deterministic ties",
    oracle=None,  # assembled below (unrolled rounds)
)
def lpa_communities_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007), made fully deterministic: every vertex starts as its
    own label; each round it adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label (the async/random
    variants of LPA are irreproducible by design — the fixed-round
    synchronous form with a total tie order is the one an engine can
    contract about, the same determinism move as
    pagerank_portable_fixedpoint). {rounds} rounds over the
    co-purchase graph, then per-community size / min-member /
    member-sum checksums. Labels are vertex ids — exact integers the
    whole way, so the DuckDB unrolled-CTE oracle matches bitwise.

    Scale: each round is one edge-label equi-join + one (vertex, label)
    count aggregate + one per-vertex rank window — the same
    join+aggregate round shape as the PageRank fixpoint, linear in
    |edges| per round with no per-vertex adjacency materialized;
    localCheckpoint truncates the growing lineage between rounds.
    """
    from pyspark.sql import Window as W

    edges = _edges(spark, sf_dir)
    bidir = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    labels = bidir.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        neigh = bidir.join(
            labels.withColumnRenamed("v", "dst"), "dst"
        ).groupBy(F.col("src").alias("v"), "lbl").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = W.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("lbl"))
        labels = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
            .localCheckpoint(eager=False)
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("v").cast("bigint").alias("min_member"),
        F.sum("v").cast("bigint").alias("member_sum"),
    )


lpa_communities_fixed.__doc__ = lpa_communities_fixed.__doc__.format(rounds=_LPA_ROUNDS)


from dynaledger_spark.plans.registry import QUERY_REGISTRY as _QRG  # noqa: E402

_QRG["lpa_communities_fixed"].oracle = _lpa_oracle()
