"""Graph operators over derived edge tables — the iterative-algorithm
surface (PageRank, degree analytics) expressed as pure DataFrame
join+aggregate rounds, the standard large-scale shape (each iteration
is one hash-shuffle on the edge key; no driver-side graph state).

The edge table is the event-type transition graph: for each user's
time-ordered event stream, consecutive events contribute one
``src_type → dst_type`` edge (a tiny vertex set here, but the plan
shape — window lead → groupBy edges → iterative join+agg — is exactly
what a billion-vertex run uses, with vertices hash-partitioned).

Determinism: per-edge contributions are IEEE double products (identical
across engines); per-vertex sums go through DECIMAL(38,20) casts so
aggregation order cannot change the result; the iteration count is
fixed (3) and the oracle unrolls the same three rounds as CTEs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import load, query

_D = 0.85     # damping
_ITERS = 3    # fixed, unrolled in the oracle
_DECG = "decimal(38,20)"
# Iterative-loop lineage-truncation cadence: checkpoint every
# N rounds, not every round — plan depth stays O(N) at real round
# counts (the GraphX/MLlib checkpointInterval practice) while runs
# shorter than the interval execute as ONE adaptive DAG with no
# per-round job/persist barrier.  Only valid for loops whose state is
# SINGLE-referenced per round (pagerank's rank table); loops that
# reference their state twice per round (BFS settled-set anti-join,
# k-core's two alive-joins) keep per-round truncation — there the
# checkpoint is also the subtree dedup (Catalyst does not dedupe).
_CKPT_EVERY = 8


def _edges_spark(spark, sf_dir):
    from pyspark.sql.window import Window
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                              "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (ev.withColumn("dst", F.lead("event_type").over(w))
         .where(F.col("dst").isNotNull())
         .groupBy(F.col("event_type").alias("src"), "dst")
         .agg(F.count(F.lit(1)).alias("cnt")))
    # out-weight normalization as a window sum over the aggregated edge
    # table: a groupBy+join would re-run the whole
    # lead-window pair subtree for the second reference of e (Catalyst
    # does not dedupe); same bigint/bigint -> double division.
    wo = Window.partitionBy("src")
    return e.select("src", "dst",
                    (F.col("cnt") / F.sum("cnt").over(wo)).alias("weight"))


_DUCK_EDGES = """
  SELECT src, dst, CAST(cnt AS DOUBLE) / outw AS weight
  FROM (
    SELECT src, dst, COUNT(*) AS cnt,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY src) AS DOUBLE) AS outw
    FROM (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events) WHERE dst IS NOT NULL
    GROUP BY src, dst)
"""

_DUCK_VERTS = """
  SELECT DISTINCT src AS v FROM ({e})
  UNION SELECT DISTINCT dst FROM ({e})
"""


def _duck_pagerank(e: str = _DUCK_EDGES, out_col: str = "event_type") -> str:
    verts = _DUCK_VERTS.format(e=e)
    sql = f"""
WITH edges AS ({e}),
verts AS ({verts}),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
r0 AS (SELECT v, 1.0 / n AS r FROM verts, nv)"""
    prev = "r0"
    for i in range(1, _ITERS + 1):
        sql += f""",
r{i} AS (
  SELECT verts.v,
    (1.0 - {_D}) / nv.n + {_D} * COALESCE(CAST(c.s AS DOUBLE), 0.0) AS r
  FROM verts CROSS JOIN nv
  LEFT JOIN (
    SELECT e.dst AS v, SUM(CAST(p.r * e.weight AS DECIMAL(38,20))) AS s
    FROM {prev} p JOIN edges e ON p.v = e.src
    GROUP BY e.dst) c ON verts.v = c.v)"""
        prev = f"r{i}"
    sql += f"""
SELECT v AS {out_col}, ROUND(r, 12) AS pagerank FROM {prev}
"""
    return sql


def _pagerank(edges, out_col: str):
    """Shared 3-iteration PageRank loop (d=0.85).  Each iteration is one
    join (rank × edges, hash on src) and one aggregation (hash on dst) —
    at 10⁹ vertices both shuffles key on the vertex id and AQE handles
    hub skew; no driver state beyond the vertex COUNT (a bounded scalar,
    same policy as the CC convergence counts — folding it into the rank
    expression as a literal removes an aggregate+broadcast job per
    round, the standard GraphX/GraphFrames `numVertices` shape).
    Lineage truncation is INTERVAL-based:
    the rank table is single-referenced per round (one contrib join),
    so within a checkpoint interval the rounds compose into ONE plan
    that the final action executes as one adaptive DAG — no duplicated
    subtrees (nothing references r twice) and no per-round
    job/persist barrier.  A checkpoint EVERY round ran pagerank_users
    as 20 serial jobs for 3.5 executor-task-seconds — pure dispatch
    overhead at this SF.  A
    checkpoint still fires every _CKPT_EVERY rounds so the plan depth
    stays bounded at real round counts (the GraphX/MLlib
    checkpointInterval practice; plan depth is O(interval), not
    O(total rounds)).

    Edges/verts are lazy localCheckpoints whose materialization the
    verts.count() below triggers in one job.  Checkpointing pins the materialized rows to this invocation's RDDs
    (no CacheManager plan-key, so a fresh call never reuses a previous
    run's data) and every downstream reference reads them."""
    edges = edges.localCheckpoint(eager=False)
    verts = (edges.select(F.col("src").alias("v"))
             .union(edges.select("dst")).distinct()
             .localCheckpoint(eager=False))
    n = float(verts.count())
    # vertices with no IN-edge receive s=0 every round, so their rank is
    # the constant (1-d)/n from round 1 on: materialize that slice ONCE
    # and union it back each round — this removes the per-round
    # verts-LEFT-JOIN-contrib shuffle (at 10^9 vertices, one full
    # vertex-table join per iteration) without changing a single value
    no_in = (verts.join(edges.select(F.col("dst").alias("v")).distinct(),
                        "v", "left_anti")
             .select("v", F.lit((1.0 - _D) / n).alias("r"))
             .localCheckpoint(eager=False))
    r = verts.select("v", (F.lit(1.0) / F.lit(n)).alias("r"))
    for i in range(_ITERS):
        if i == 0:
            # round 1 needs no rank join: r0 is the uniform
            # constant 1/n for EVERY vertex, and every edge's src is in
            # verts by construction, so r0 ⋈ edges keeps every edge row
            # with r = 1/n — the same rows fall out of a direct edge
            # aggregation with the identical per-row double product
            # (1.0/n) * weight.  At real scale this deletes one full
            # |E|⋈|V| shuffle join from every PageRank run.
            contrib = (edges.select(
                F.col("dst").alias("v"),
                ((F.lit(1.0) / F.lit(n)) * F.col("weight")).alias("c"))
                .groupBy("v")
                .agg(F.sum(F.col("c").cast(_DECG)).alias("s")))
        else:
            contrib = (r.join(edges, r.v == edges.src)
                       .select(F.col("dst").alias("v"),
                               (F.col("r") * F.col("weight")).alias("c"))
                       .groupBy("v")
                       .agg(F.sum(F.col("c").cast(_DECG)).alias("s")))
        active = contrib.select(
            "v", (F.lit((1.0 - _D) / n)
                  + _D * F.col("s").cast("double")).alias("r"))
        r = active.unionByName(no_in)
        if (i + 1) % _CKPT_EVERY == 0 and i + 1 < _ITERS:
            r = r.localCheckpoint(eager=False)
    return r.select(F.col("v").alias(out_col),
                    F.round("r", 12).alias("pagerank"))


@query("graph_pagerank", oracle=_duck_pagerank())
def graph_pagerank(spark, sf_dir):
    """3-iteration PageRank over the event-type transition graph (tiny
    vertex set — demonstrates the plan shape; the scale-honest variant
    is :func:`graph_pagerank_users`)."""
    return _pagerank(_edges_spark(spark, sf_dir), "event_type")


def _user_edges_spark(spark, sf_dir):
    """User-level edge table: within each event_type stream ordered by
    (ts, event_id) — a total order, event_id is unique — consecutive
    events by DIFFERENT users contribute one src_user → dst_user edge.
    Vertex set = active users (1.5k at sf0.1, scaling linearly with SF),
    with real hub skew from high-activity users; edge weights are
    out-normalized transition frequencies.

    Scale note: event_type has ~5 values, so a single
    ``partitionBy(event_type)`` lead-window would sort the whole table
    on 5 tasks regardless of cluster size.  The consecutive pairs are
    instead computed TWO-LEVEL: a (event_type, day)-partitioned window
    yields all within-day pairs in parallel, and the day-boundary pairs
    come from a per-(type, day) first/last aggregate stitched by a tiny
    per-type window over days (~rows = types × days).  Identical pair
    set — the oracle keeps the single flat LEAD."""
    from pyspark.sql.window import Window
    ev = (load(spark, sf_dir, "events")
          .select("user_id", "ts", "event_id", "event_type")
          .withColumn("day", F.date_trunc("DAY", "ts")))
    wd = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    intra = (ev.withColumn("dst", F.lead("user_id").over(wd))
             .where(F.col("dst").isNotNull())
             .select(F.col("user_id").alias("src"), "dst"))
    ends = (ev.groupBy("event_type", "day")
            .agg(F.min_by("user_id", F.struct("ts", "event_id"))
                 .alias("first_user"),
                 F.max_by("user_id", F.struct("ts", "event_id"))
                 .alias("last_user")))
    wt = Window.partitionBy("event_type").orderBy("day")
    boundary = (ends.withColumn("dst", F.lead("first_user").over(wt))
                .where(F.col("dst").isNotNull())
                .select(F.col("last_user").alias("src"), "dst"))
    pairs = intra.unionAll(boundary)
    e = (pairs.where(F.col("dst") != F.col("src"))
         .groupBy("src", "dst")
         .agg(F.count(F.lit(1)).alias("cnt")))
    # out-weight normalization as a window sum over the aggregated edge
    # table: a groupBy+join would re-run the whole
    # two-level pair-window subtree for the second reference of e
    # (Catalyst does not dedupe); same bigint/bigint -> double division.
    wo = Window.partitionBy("src")
    return e.select("src", "dst",
                    (F.col("cnt") / F.sum("cnt").over(wo)).alias("weight"))


_DUCK_USER_EDGES = """
  SELECT src, dst, CAST(cnt AS DOUBLE) / outw AS weight
  FROM (
    SELECT src, dst, COUNT(*) AS cnt,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY src) AS DOUBLE) AS outw
    FROM (
      SELECT user_id AS src,
             LEAD(user_id) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS dst
      FROM events) WHERE dst IS NOT NULL AND dst <> src
    GROUP BY src, dst)
"""


@query("graph_pagerank_users",
       oracle=_duck_pagerank(_DUCK_USER_EDGES, out_col="user_id"))
def graph_pagerank_users(spark, sf_dir):
    """Scale-honest PageRank: same 3-iteration decimal-deterministic
    loop as :func:`graph_pagerank`, but over the USER co-activity graph
    (1.5k vertices at sf0.1, growing linearly with SF, hub-skewed) so
    the iterative path exercises real vertex-key shuffles, not a
    5-vertex toy."""
    return _pagerank(_user_edges_spark(spark, sf_dir), "user_id")


@query("graph_degree_stats", oracle=f"""
WITH edges AS ({_DUCK_EDGES})
SELECT v AS event_type,
       CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS out_degree,
       CAST(COALESCE(i.indeg, 0) AS BIGINT) AS in_degree
FROM ({_DUCK_VERTS.format(e=_DUCK_EDGES)})
LEFT JOIN (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src) o
  ON v = o.src
LEFT JOIN (SELECT dst, COUNT(*) AS indeg FROM edges GROUP BY dst) i
  ON v = i.dst
""")
def graph_degree_stats(spark, sf_dir):
    """Degree table of the transition graph — the profiling pass that
    sizes a PageRank/CC run (hub detection feeds the skew strategy)."""
    edges = _edges_spark(spark, sf_dir)
    verts = (edges.select(F.col("src").alias("v"))
             .union(edges.select("dst")).distinct())
    o = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    i = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    return (verts.join(o, verts.v == o.src, "left")
            .join(i, verts.v == i.dst, "left")
            .select(F.col("v").alias("event_type"),
                    F.coalesce("outdeg", F.lit(0)).cast("bigint")
                    .alias("out_degree"),
                    F.coalesce("indeg", F.lit(0)).cast("bigint")
                    .alias("in_degree")))


@query("graph_triangle_count", oracle=f"""
WITH ue AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ({_DUCK_USER_EDGES}) WHERE src <> dst),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM ue e1 JOIN ue e2 ON e1.a = e2.a AND e1.b < e2.b
  JOIN ue e3 ON e3.a = e1.b AND e3.b = e2.b),
per_vertex AS (
  SELECT u AS user_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri)
SELECT user_id, COUNT(*) AS n_triangles
FROM per_vertex GROUP BY user_id
""")
def graph_triangle_count(spark, sf_dir):
    """Per-vertex triangle counts on the undirected user co-activity
    graph — the local-clustering / spam-detection primitive.

    Scale shape (the part that matters at 10⁹ edges): edges are
    *oriented by (degree, id)* before the wedge join, so every wedge is
    enumerated at its lowest-degree endpoint and the join fan-out per
    vertex is bounded by O(√m) instead of max-degree — the standard
    degree-orientation bound (node-iterator++).  The pipeline is two
    hash equi-joins keyed on vertex ids plus one aggregation; no
    cartesian, no driver state.  The oracle enumerates the same
    triangle SET with plain id-orientation (orientation changes the
    enumeration order, never the set), so results match exactly.
    """
    e = _user_edges_spark(spark, sf_dir)
    ue = (e.where(F.col("src") != F.col("dst"))
          .select(F.least("src", "dst").alias("a"),
                  F.greatest("src", "dst").alias("b"))
          .distinct())
    deg = (ue.select(F.col("a").alias("v")).union(ue.select("b"))
           .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    # orient each edge from the (degree, id)-smaller endpoint to the
    # larger: out-degree after orientation is O(sqrt(m))
    oe = (ue.join(deg.withColumnRenamed("v", "a")
                  .withColumnRenamed("deg", "da"), "a")
          .join(deg.withColumnRenamed("v", "b")
                .withColumnRenamed("deg", "db"), "b")
          .select(
              F.when((F.col("da") < F.col("db"))
                     | ((F.col("da") == F.col("db"))
                        & (F.col("a") < F.col("b"))), F.col("a"))
              .otherwise(F.col("b")).alias("lo"),
              F.when((F.col("da") < F.col("db"))
                     | ((F.col("da") == F.col("db"))
                        & (F.col("a") < F.col("b"))), F.col("b"))
              .otherwise(F.col("a")).alias("hi")))
    # wedges at the low-degree center: (lo -> hi1), (lo -> hi2); closed
    # iff the third edge exists in EITHER orientation
    e1 = oe.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e2 = oe.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    closing = oe.select(
        F.least("lo", "hi").alias("cv"), F.greatest("lo", "hi").alias("cw"))
    # wedge endpoints are already id-ordered (v < w), closing edges are
    # normalized to (cv < cw): plain two-key hash equi-join
    tri = wedges.join(
        closing, (F.col("v") == F.col("cv")) & (F.col("w") == F.col("cw")),
        "leftsemi")
    per_vertex = (tri.select(F.col("u").alias("user_id"))
                  .union(tri.select("v")).union(tri.select("w")))
    out = per_vertex.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_triangles"))
    return out


@query("graph_transition_matrix", oracle=f"""
SELECT src, dst, ROUND(weight, 12) AS prob
FROM ({_DUCK_EDGES})
""")
def graph_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of the event-type process:
    P(dst | src) for consecutive events within a user stream — the
    model behind next-event prediction, anomaly scoring, and the
    PageRank/CC edge weights above (this IS their edge builder,
    exposed as a user-facing operator).  One window pass + one edge
    aggregation; each row's probability is one count/out-weight
    division — engine-exact, rounded only for the hash gate."""
    e = _edges_spark(spark, sf_dir)
    return e.select("src", "dst", F.round("weight", 12).alias("prob"))


# ---------------------------------------------------------------------------
# Bounded-depth BFS: frontier expansion as join+distinct rounds — the
# reachability / influence-radius primitive (fraud rings, content
# propagation), and the third iterative shape alongside PageRank
# (weighted sums) and connected components (label propagation).
# ---------------------------------------------------------------------------

_BFS_DEPTH = 3


@query("graph_bfs_distance", oracle=f"""
WITH RECURSIVE edges AS ({_DUCK_USER_EDGES}),
walk(v, d) AS (
  SELECT DISTINCT src AS v, 0 AS d FROM edges WHERE src % 97 = 0
  UNION ALL
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON w.v = e.src
  WHERE w.d < {_BFS_DEPTH}
)
SELECT CAST(v AS BIGINT) AS user_id, CAST(MIN(d) AS INT) AS dist
FROM walk GROUP BY v
""")
def graph_bfs_distance(spark, sf_dir):
    """Hop distance (bounded rounds) from a seed set over the directed
    user co-activity graph — multi-source BFS as frontier expansion.

    Plan per round: frontier ⋈ edges (hash equi-join on the vertex
    key), distinct new vertices, LEFT ANTI against the settled set —
    each round's frontier shrinks toward the unvisited region, the
    exact shape Pregel/GraphX BFS lowers to on a shuffle engine.  The
    new frontier localCheckpoints per round (bounded plan depth, the
    iterative-loop policy).  The oracle's recursive CTE enumerates all
    bounded-hop walks and takes MIN(d), which equals BFS distance.
    Integer arithmetic only: engine-exact."""
    # pinned: every round's expansion reads the edge table
    edges = (_user_edges_spark(spark, sf_dir).select("src", "dst")
             .localCheckpoint(eager=True))
    seeds = (edges.where(F.col("src") % 97 == 0)
             .select(F.col("src").alias("v")).distinct())
    dist = seeds.select("v", F.lit(0).alias("d"))
    frontier = dist.select("v")
    for i in range(1, _BFS_DEPTH + 1):
        # checkpoint the new frontier (it is referenced twice: by the
        # settled union and by the next round's expansion) so each
        # round's plan is one join+distinct over materialized inputs
        nxt = (frontier.join(edges, frontier.v == edges.src)
               .select(F.col("dst").alias("v")).distinct()
               .join(dist, "v", "left_anti")
               .withColumn("d", F.lit(i))
               .localCheckpoint(eager=False))
        dist = dist.unionByName(nxt)
        frontier = nxt.select("v")
    return dist.select(F.col("v").cast("bigint").alias("user_id"),
                       F.col("d").cast("int").alias("dist"))


# ---------------------------------------------------------------------------
# Community detection by label propagation (LPA): each round every
# vertex adopts its neighbors' most frequent label (ties -> smallest
# label).  Deterministic synchronous variant, 2 rounds, undirected
# user co-activity edges.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2

_DUCK_UEDGES = f"""
  SELECT src AS u, dst AS v FROM ({_DUCK_USER_EDGES})
  UNION SELECT dst, src FROM ({_DUCK_USER_EDGES})
"""


def _duck_lpa() -> str:
    sql = f"""
WITH ue AS ({_DUCK_UEDGES}),
l0 AS (SELECT DISTINCT u AS vtx, u AS lbl FROM ue)"""
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        sql += f""",
h{i} AS (
  SELECT ue.v AS vtx, p.lbl, COUNT(*) AS cnt
  FROM ue JOIN {prev} p ON ue.u = p.vtx
  GROUP BY ue.v, p.lbl),
l{i} AS (
  SELECT vtx, lbl FROM (
    SELECT vtx, lbl, ROW_NUMBER() OVER (PARTITION BY vtx
              ORDER BY cnt DESC, lbl) AS rn
    FROM h{i}) WHERE rn = 1)"""
        prev = f"l{i}"
    sql += f"""
SELECT CAST(vtx AS BIGINT) AS user_id, CAST(lbl AS BIGINT) AS community
FROM {prev}
"""
    return sql


@query("graph_community_lpa", oracle=_duck_lpa())
def graph_community_lpa(spark, sf_dir):
    """Synchronous label-propagation community detection over the
    undirected user co-activity graph: every round each vertex adopts
    the most frequent label among its neighbors (ties break to the
    smallest label — total order, so the rounds are deterministic and
    the oracle unrolls them exactly).

    Plan per round: labels ⋈ edges (hash equi-join on the vertex key),
    a (vertex, label) histogram aggregation, and an argmax window
    partitioned by vertex — two vertex-keyed shuffles, the GraphX LPA
    lowering.  Labels localCheckpoint per round (iterative-loop
    policy).  Integer counting only: engine-exact."""
    e = _user_edges_spark(spark, sf_dir).select("src", "dst")
    # pinned: every round's histogram reads the edge table
    ue = (e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
          .union(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
          .distinct().localCheckpoint(eager=True))
    labels = ue.select(F.col("u").alias("vtx")).distinct() \
        .withColumn("lbl", F.col("vtx"))
    # per-round argmax as a hash aggregate, not a window:
    # min(struct(-cnt, lbl)) picks exactly the
    # row_number-over-(cnt desc, lbl asc) row (lbl unique per vtx
    # group, integer negation exact), with map-side partial
    # aggregation instead of a second full exchange + sort of the
    # histogram every round.
    for _ in range(_LPA_ROUNDS):
        hist = (ue.join(labels, ue.u == labels.vtx)
                .groupBy(F.col("v").alias("vtx2"), "lbl")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumnRenamed("vtx2", "vtx"))
        labels = (hist.groupBy("vtx")
                  .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                      F.col("lbl"))).alias("m"))
                  .select("vtx", F.col("m.lbl").alias("lbl"))
                  .localCheckpoint(eager=False))
    return labels.select(F.col("vtx").cast("bigint").alias("user_id"),
                         F.col("lbl").cast("bigint").alias("community"))


# ---------------------------------------------------------------------------
# k-core peeling: iteratively remove vertices with degree < k — the
# web-graph noise filter (spam/leaf pruning) and community-density
# primitive.  Fixed peel rounds (engine and oracle both run exactly
# _KCORE_ROUNDS, so results are value-identical even where full
# convergence would need more rounds); per round one alive-restricted
# degree aggregation — vertex-key join + groupBy, no cartesian.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _duck_kcore() -> str:
    parts = [f"""WITH e0 AS (
  SELECT DISTINCT src, dst FROM ({_DUCK_USER_EDGES}) WHERE src <> dst),
ue AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
a0 AS (SELECT DISTINCT src AS v FROM ue)"""]
    for t in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"""d{t} AS (
  SELECT ue.src AS v, COUNT(*) AS c FROM ue
  JOIN a{t-1} x ON ue.src = x.v
  JOIN a{t-1} y ON ue.dst = y.v
  GROUP BY ue.src),
a{t} AS (SELECT v FROM d{t} WHERE c >= {_KCORE_K})""")
    r = _KCORE_ROUNDS
    parts.append(f"""fin AS (
  SELECT ue.src AS v, COUNT(*) AS c FROM ue
  JOIN a{r} x ON ue.src = x.v
  JOIN a{r} y ON ue.dst = y.v
  GROUP BY ue.src)""")
    return (",\n".join(parts)
            + f"\nSELECT CAST(v AS BIGINT) AS user_id,"
              f" CAST(c AS BIGINT) AS core_degree FROM fin")


@query("graph_kcore", oracle=_duck_kcore())
def graph_kcore(spark, sf_dir):
    """{k}-core membership after {r} peel rounds over the undirected
    user co-activity graph, with each survivor's within-core degree.

    Plan: per round, restrict edges to alive endpoints (two vertex-key
    equi-joins against the alive set), aggregate degree, filter — the
    alive set localCheckpoints each round so plan depth stays O(1)
    (iterative-loop policy).  Shuffles key on the vertex; no cartesian,
    no full-graph broadcast.  Integer arithmetic only: engine-exact."""
    e = (_user_edges_spark(spark, sf_dir).select("src", "dst")
         .where(F.col("src") != F.col("dst")).distinct())
    # pinned: every peel round reads the edge table
    ue = (e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
          .distinct().localCheckpoint(eager=True))
    alive = ue.select(F.col("src").alias("v")).distinct()

    def _deg_within(alive_df):
        return (ue.join(alive_df.select(F.col("v").alias("s")),
                        ue.src == F.col("s"))
                .join(alive_df.select(F.col("v").alias("d")),
                      ue.dst == F.col("d"))
                .groupBy("src").agg(F.count(F.lit(1)).alias("c")))

    for _ in range(_KCORE_ROUNDS):
        alive = (_deg_within(alive).where(F.col("c") >= _KCORE_K)
                 .select(F.col("src").alias("v"))
                 .localCheckpoint(eager=False))
    fin = _deg_within(alive)
    return fin.select(F.col("src").cast("bigint").alias("user_id"),
                      F.col("c").cast("bigint").alias("core_degree"))


graph_kcore.__doc__ = graph_kcore.__doc__.format(k=_KCORE_K,
                                                 r=_KCORE_ROUNDS)
