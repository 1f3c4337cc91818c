"""Similarity-search suite over ``embeddings`` (64-dim float vectors).

- brute-force cosine top-k (the exactness baseline; at scale this is the
  per-shard verify stage, never the full-corpus plan);
- sign-LSH (random-hyperplane style, here deterministic sign-bit buckets
  on leading dimensions) — candidates share a bucket, so the join is a
  bucket equi-join that scales like hash-partitioned shuffle, not a
  cross join;
- per-label centroids + member-to-centroid cosine (the IVF coarse
  quantizer building block).

Numeric policy: dot products / norms are left-to-right folds over the
dimension order (``aggregate``/``list_reduce``) in double — bit-identical
across engines; cross-row sums (centroid averages) go through exact
DECIMAL(38,9).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import load, query

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"

_DUCK_DOT = ("list_reduce(list_transform(range(1, 65),"
             " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
             " (x, y) -> x + y)")


def _vecs(spark, sf_dir):
    return load(spark, sf_dir, "embeddings", wide=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", F.expr(
        "sqrt(" + _DOT.format(a="emb", b="emb") + ")"))


_DUCK_VECS = ("SELECT vec_id, label, embedding,"
              f" sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm"
              " FROM embeddings")


# ---------------------------------------------------------------------------

@query("sim_knn_bruteforce", oracle=f"""
WITH v AS ({_DUCK_VECS}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM v q JOIN v c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= 5
""")
def sim_knn_bruteforce(spark, sf_dir):
    v = _vecs(spark, sf_dir)
    q = v.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"))
    c = v.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("emb").alias("ce"), F.col("nrm").alias("cn"))
    cos = (F.expr(_DOT.format(a="qe", b="ce")) / (F.col("qn") * F.col("cn")))
    scored = (F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5))


# ---------------------------------------------------------------------------
# sign-LSH: bucket = sign bits of dims 1..4; candidates share the bucket.
# ---------------------------------------------------------------------------

_BUCKET = ("CAST({p}[1] >= 0 AS INT) * 8 + CAST({p}[2] >= 0 AS INT) * 4"
           " + CAST({p}[3] >= 0 AS INT) * 2 + CAST({p}[4] >= 0 AS INT)")


@query("sim_ann_signlsh", oracle=f"""
WITH v AS (SELECT *, {_BUCKET.format(p='embedding')} AS bucket
           FROM ({_DUCK_VECS})),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= 3
""")
def sim_ann_signlsh(spark, sf_dir):
    v = _vecs(spark, sf_dir).withColumn(
        "bucket", F.expr(
            "cast(element_at(emb, 1) >= 0 as int) * 8"
            " + cast(element_at(emb, 2) >= 0 as int) * 4"
            " + cast(element_at(emb, 3) >= 0 as int) * 2"
            " + cast(element_at(emb, 4) >= 0 as int)"))
    q = v.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"), F.col("bucket").alias("qb"))
    c = v.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("emb").alias("ce"), F.col("nrm").alias("cn"),
                 F.col("bucket").alias("cb"))
    cos = (F.expr(_DOT.format(a="qe", b="ce")) / (F.col("qn") * F.col("cn")))
    scored = (q.join(c, (F.col("qb") == F.col("cb"))
                     & (F.col("query_id") != F.col("neighbor_id")))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3))


# ---------------------------------------------------------------------------
# per-label centroid + member-to-centroid cosine (IVF coarse quantizer)
# ---------------------------------------------------------------------------

@query("sim_label_centroids", oracle=f"""
WITH comp AS (
  SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, 65)) AS u(i)),
cent AS (
  SELECT label, dim,
    CAST(SUM(CAST(val AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS cval
  FROM comp GROUP BY label, dim),
dots AS (
  SELECT comp.vec_id, comp.label,
    CAST(SUM(CAST(val * cval AS DECIMAL(38,9))) AS DOUBLE) AS dot,
    sqrt(CAST(SUM(CAST(val * val AS DECIMAL(38,9))) AS DOUBLE)) AS vnrm,
    sqrt(CAST(SUM(CAST(cval * cval AS DECIMAL(38,9))) AS DOUBLE)) AS cnrm
  FROM comp JOIN cent ON comp.label = cent.label AND comp.dim = cent.dim
  GROUP BY comp.vec_id, comp.label)
SELECT label, COUNT(*) AS n_members,
  CAST(SUM(CAST(dot / (vnrm * cnrm) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*)
    AS avg_cos_to_centroid
FROM dots GROUP BY label
""")
def sim_label_centroids(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings", wide=True)
    comp = (e.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos", "val")).withColumn("dim", F.col("pos") + 1).drop("pos"))
    d9 = "decimal(38,9)"
    cent = (comp.groupBy("label", "dim")
            .agg((F.sum(F.col("val").cast(d9)).cast("double")
                  / F.count(F.lit(1))).alias("cval")))
    j = comp.join(cent, ["label", "dim"])
    dots = (j.groupBy("vec_id", "label")
            .agg(F.sum((F.col("val") * F.col("cval")).cast(d9)).cast("double")
                 .alias("dot"),
                 F.sqrt(F.sum((F.col("val") * F.col("val")).cast(d9))
                        .cast("double")).alias("vnrm"),
                 F.sqrt(F.sum((F.col("cval") * F.col("cval")).cast(d9))
                        .cast("double")).alias("cnrm")))
    return (dots.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 (F.sum((F.col("dot") / (F.col("vnrm") * F.col("cnrm")))
                        .cast(d9)).cast("double") / F.count(F.lit(1)))
                 .alias("avg_cos_to_centroid")))


# ---------------------------------------------------------------------------
# IVF probe search: per-label centroids are the coarse quantizer; each
# query probes its nprobe=2 nearest centroids and searches only those
# clusters. At scale the candidate join is an equi-join on label
# (hash-partitioned shuffle over ~1/nlist of the corpus per probe),
# never a cross join; centroids are a broadcast-sized side.
# ---------------------------------------------------------------------------

@query("sim_ann_ivf", oracle=f"""
WITH comp AS (
  SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, 65)) AS u(i)),
cent AS (
  SELECT label, dim,
    CAST(SUM(CAST(val AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS cval
  FROM comp GROUP BY label, dim),
qc AS (
  SELECT comp.vec_id AS query_id, cent.label AS probe_label,
    CAST(SUM(CAST(val * cval AS DECIMAL(38,9))) AS DOUBLE)
      / (sqrt(CAST(SUM(CAST(val * val AS DECIMAL(38,9))) AS DOUBLE))
         * sqrt(CAST(SUM(CAST(cval * cval AS DECIMAL(38,9))) AS DOUBLE)))
      AS ccos
  FROM comp JOIN cent ON comp.dim = cent.dim
  WHERE comp.vec_id < 10
  GROUP BY comp.vec_id, cent.label),
probes AS (
  SELECT query_id, probe_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ccos DESC, probe_label) AS prn
    FROM qc) WHERE prn <= 2),
v AS ({_DUCK_VECS}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM v q
  JOIN probes ON probes.query_id = q.vec_id
  JOIN v c ON c.label = probes.probe_label AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= 3
""")
def sim_ann_ivf(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings", wide=True)
    d9 = "decimal(38,9)"
    comp = e.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos", "val")).withColumn("dim", F.col("pos") + 1).drop("pos")
    cent = (comp.groupBy(F.col("label").alias("probe_label"),
                         F.col("dim").alias("cdim"))
            .agg((F.sum(F.col("val").cast(d9)).cast("double")
                  / F.count(F.lit(1))).alias("cval")))
    qcomp = comp.where(F.col("vec_id") < 10)
    qc = (qcomp.join(F.broadcast(cent), qcomp.dim == cent.cdim)
          .groupBy(F.col("vec_id").alias("query_id"), "probe_label")
          .agg((F.sum((F.col("val") * F.col("cval")).cast(d9)).cast("double")
                / (F.sqrt(F.sum((F.col("val") * F.col("val")).cast(d9))
                          .cast("double"))
                   * F.sqrt(F.sum((F.col("cval") * F.col("cval")).cast(d9))
                            .cast("double")))).alias("ccos")))
    wp = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "probe_label")
    probes = (qc.withColumn("prn", F.row_number().over(wp))
              .where(F.col("prn") <= 2).select("query_id", "probe_label"))
    v = _vecs(spark, sf_dir)
    q = v.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"))
    c = v.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("emb").alias("ce"), F.col("nrm").alias("cn"),
                 F.col("label").alias("clabel"))
    cos = (F.expr(_DOT.format(a="qe", b="ce")) / (F.col("qn") * F.col("cn")))
    scored = (q.join(F.broadcast(probes), q.qid == probes.query_id)
              .join(c, (F.col("clabel") == F.col("probe_label"))
                    & (F.col("qid") != F.col("neighbor_id")))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3))


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH index vs exact top-k
# ---------------------------------------------------------------------------

@query("sim_recall_eval", oracle=f"""
WITH v AS (SELECT *, {_BUCKET.format(p='embedding')} AS bucket
           FROM ({_DUCK_VECS})),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        {_DUCK_DOT.format(a='q.embedding', b='c.embedding')}
          / (q.nrm * c.nrm) DESC, c.vec_id) AS rn
    FROM v q JOIN v c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10) WHERE rn <= 3),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        {_DUCK_DOT.format(a='q.embedding', b='c.embedding')}
          / (q.nrm * c.nrm) DESC, c.vec_id) AS rn
    FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 10) WHERE rn <= 3)
SELECT e.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / 3.0 AS recall_at_3
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
""")
def sim_recall_eval(spark, sf_dir):
    """ANN quality evaluation — recall@3 of the sign-LSH index against
    the exact top-3, per query: the metric that decides whether an
    index's bucketing is good enough to replace brute force.  Both
    rankings are computed with the engine-exact fold dot product, and
    the recall itself is an integer set intersection divided once —
    nothing transcendental, so the evaluation is bit-reproducible.  At
    scale the exact side runs on a small held-out query sample (here:
    10 queries) while the index side stays a bucket equi-join — the
    standard recall-audit shape."""
    v = _vecs(spark, sf_dir).withColumn(
        "bucket", F.expr(
            "cast(element_at(emb, 1) >= 0 as int) * 8"
            " + cast(element_at(emb, 2) >= 0 as int) * 4"
            " + cast(element_at(emb, 3) >= 0 as int) * 2"
            " + cast(element_at(emb, 4) >= 0 as int)"))
    q = v.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"), F.col("bucket").alias("qb"))
    c = v.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("emb").alias("ce"), F.col("nrm").alias("cn"),
                 F.col("bucket").alias("cb"))
    cos = (F.expr(_DOT.format(a="qe", b="ce")) / (F.col("qn") * F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")

    exact = (F.broadcast(q)
             .join(c, F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id", cos.alias("cosine"))
             .withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= 3).select("query_id", "neighbor_id"))
    approx = (q.join(c, (F.col("qb") == F.col("cb"))
                     & (F.col("query_id") != F.col("neighbor_id")))
              .select("query_id", "neighbor_id", cos.alias("cosine"))
              .withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= 3)
              .select(F.col("query_id").alias("aq"),
                      F.col("neighbor_id").alias("an")))
    return (exact.join(approx,
                       (F.col("query_id") == F.col("aq"))
                       & (F.col("neighbor_id") == F.col("an")), "left")
            .groupBy("query_id")
            .agg(F.count("an").alias("hits"),
                 (F.count("an").cast("double") / 3.0).alias("recall_at_3")))


# ---------------------------------------------------------------------------
# k-means training (Lloyd) — the coarse-quantizer trainer for IVF.
# K=8, 2 unrolled iterations, deterministic: init = vectors 0..7,
# distances are exact DECIMAL sums of per-dim double squares (order-
# independent), argmin tie-breaks on cluster id, centroid updates are
# exact decimal means.  The oracle unrolls the same two rounds.
# ---------------------------------------------------------------------------

_KM_K, _KM_ITERS = 8, 2
_D9 = "DECIMAL(38,9)"


def _duck_kmeans() -> str:
    sql = f"""
WITH comp AS (
  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, 65)) AS u(i)),
c0 AS (SELECT vec_id AS j, dim, val AS cval FROM comp
       WHERE vec_id < {_KM_K})"""
    prev = "c0"
    for it in range(1, _KM_ITERS + 1):
        sql += f""",
d{it} AS (
  SELECT comp.vec_id, {prev}.j,
    SUM(CAST((val - cval) * (val - cval) AS {_D9})) AS dist
  FROM comp JOIN {prev} ON comp.dim = {prev}.dim
  GROUP BY comp.vec_id, {prev}.j),
a{it} AS (
  SELECT vec_id, j FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
    FROM d{it}) WHERE rn = 1),
c{it} AS (
  SELECT a{it}.j, comp.dim,
    CAST(SUM(CAST(val AS {_D9})) AS DOUBLE) / COUNT(*) AS cval
  FROM comp JOIN a{it} ON comp.vec_id = a{it}.vec_id
  GROUP BY a{it}.j, comp.dim)"""
        prev = f"c{it}"
    last = _KM_ITERS
    sql += f"""
SELECT c.j AS cluster, c.dim, ROUND(c.cval, 9) AS cval, s.n_members
FROM c{last} c JOIN (SELECT j, COUNT(*) AS n_members FROM a{last}
                     GROUP BY j) s ON c.j = s.j
"""
    return sql


@query("sim_kmeans_train", oracle=_duck_kmeans())
def sim_kmeans_train(spark, sf_dir):
    """In-engine k-means training (2 Lloyd iterations, K=8) over the
    embedding corpus — the trainer for the IVF coarse quantizer that
    sim_ann_ivf probes (which uses labels as a stand-in codebook; this
    closes the loop and trains one).  Each round: one broadcast join of
    the tiny centroid table against the exploded components, a
    (vec, cluster) distance aggregation, an argmin window, and a
    centroid-mean aggregation — two vector-keyed shuffles per round, no
    driver state, no cartesian.  Determinism: per-dim squared residuals
    are IEEE doubles summed through exact DECIMAL (order-independent),
    argmin ties break on cluster id, means are exact decimal sums over
    exact counts.  At 10^9 vectors the same plan holds with the
    centroid table still broadcast-sized (K x dims rows).  Lineage:
    centroids localCheckpoint per round (O(1) plan depth, same policy
    as graph_pagerank)."""
    e = load(spark, sf_dir, "embeddings", wide=True)
    # pinned: every round (two references each) and cent0 read the
    # vector table, which is scanned and cast once
    vec = (e.select("vec_id",
                    F.col("embedding").cast("array<double>").alias("x"))
           .localCheckpoint(eager=True))
    d9 = _D9.lower()
    # centroids as a broadcast table of ARRAYS: distances are computed
    # per (vector, centroid) row via zip_with + an exact-decimal fold —
    # no per-dimension fan-out join, so the only shuffled relation per
    # round is the (vec, cluster) assignment (vs dims x K x vectors rows
    # for an exploded-component join: at 10^9 vectors that's the
    # difference between an 8x10^9-row and a 512x10^9-row shuffle).
    cent = (vec.where(F.col("vec_id") < _KM_K)
            .select(F.col("vec_id").alias("j"), F.col("x").alias("c")))
    # fold type: decimal(30,9), NOT (38,9) — Spark's decimal addition at
    # the 38-precision cap reduces scale (38,9 + 38,9 -> 38,8, a lossy
    # round the oracle's SUM would not take); at precision 30 the sum is
    # (31,9), exact, and the clamp back to (30,9) is lossless for these
    # magnitudes.  Scale-9 element casts round identically to the
    # oracle's DECIMAL(38,9) casts, so dist values match bit-for-bit.
    dfold = "decimal(30,9)"
    # Measured and not adopted: two attempts to replace
    # this interpreted higher-order-function fold with compiled
    # expression trees made it WORSE, not better —
    # (a) an unrolled sequential (acc + sq).cast chain (128 nested
    #     decimal nodes): same-window A/B 4.36 s vs 2.39 s (1.8x
    #     REGRESSION — the generated method for one 64-deep decimal
    #     expression is too large for the JIT, so it runs in the
    #     bytecode interpreter, slower than Spark's expression
    #     interpreter evaluating the lambda);
    # (b) a balanced depth-6 add tree without intermediate casts:
    #     pathological (>60 s per pass, killed).
    # The HOF fold stays: its per-element interpretation is the cheap
    # part; the exact-decimal arithmetic itself is the contract-bound
    # cost (the oracle's SUM(CAST(...AS DECIMAL)) demands exact decimal
    # sums, and algebraic refactorings like Σx²-2Σxc+Σc² change
    # rounding near argmin ties).  tests/test_argmin_equiv.py keeps the
    # unroll==fold equivalence pin as documentation of the attempt.
    sq_dec = lambda a, b: ((a - b) * (a - b)).cast(dfold)  # noqa: E731
    assign, centcomp = None, None
    for _ in range(_KM_ITERS):
        dist = (vec.crossJoin(F.broadcast(cent))
                .select("vec_id", "j",
                        F.aggregate(F.zip_with("x", "c", sq_dec),
                                    F.lit(0).cast(dfold),
                                    lambda acc, v: (acc + v).cast(dfold))
                        .alias("dist")))
        # argmin as a hash aggregate, not a window:
        # min(struct(dist, j)) picks exactly the row row_number-over-
        # (dist asc, j asc) picked (j is unique per vec, struct compare
        # is lexicographic), but partial aggregation collapses the K
        # rows per vector map-side — no full sort of the K*N distance
        # table and K-fold fewer shuffled rows.
        assign = (dist.groupBy("vec_id")
                  .agg(F.min(F.struct("dist", "j")).alias("m"))
                  .select("vec_id", F.col("m.j").alias("j")))
        # centroid update: explode ONLY the assigned vectors (K*dims
        # result groups, partial aggregation absorbs the fan-out), then
        # re-pack per-cluster component means into broadcastable arrays
        # n_members rides the SAME aggregation: every assigned
        # vector contributes exactly one posexploded row per dim, so the
        # per-(j, dim) row count IS the cluster size — the old separate
        # assign.groupBy(j) re-ran the whole final-round distance+argmin
        # subtree (assign is not checkpointed) plus one more shuffle and
        # a join; all three are gone, same integers.
        centcomp = (vec.join(assign, "vec_id")
                    .select("j", F.posexplode("x").alias("pos", "val"))
                    .withColumn("dim", F.col("pos") + 1)
                    .groupBy("j", "dim")
                    .agg((F.sum(F.col("val").cast(d9)).cast("double")
                          / F.count(F.lit(1))).alias("cval"),
                         F.count(F.lit(1)).alias("n_members"))
                    .localCheckpoint(eager=False))
        cent = (centcomp
                .groupBy("j")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "cval")))
                     .alias("s"))
                .select("j", F.transform("s", lambda t: t.cval).alias("c")))
    return centcomp.select(F.col("j").alias("cluster"), "dim",
                           F.round("cval", 9).alias("cval"), "n_members")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN path: 64-dim float
# vectors compress to 8 one-byte codes (one per 8-dim subspace), and
# queries score candidates through a tiny per-query lookup table (ADC)
# instead of touching raw vectors.  Codebooks here are the per-label
# subspace centroids (the same deterministic stand-in sim_ann_ivf uses
# for its coarse quantizer); swapping in sim_kmeans_train-style trained
# codebooks is the same plan with a different centroid source.
# ---------------------------------------------------------------------------

_PQ_M = 8       # subspaces
_PQ_DSUB = 8    # dims per subspace

_DUCK_PQ_BASE = f"""
comp AS (
  SELECT vec_id, label, i AS dim, CAST((i - 1) // {_PQ_DSUB} AS INTEGER) AS sub,
         CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, 65)) AS u(i)),
codebook AS (
  SELECT label AS code, sub, dim,
         CAST(SUM(CAST(val AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS cval
  FROM comp GROUP BY label, sub, dim),
dists AS (
  SELECT comp.vec_id, comp.sub, codebook.code,
         SUM(CAST((val - cval) * (val - cval) AS DECIMAL(38,9))) AS d2
  FROM comp JOIN codebook ON comp.sub = codebook.sub
                         AND comp.dim = codebook.dim
  GROUP BY comp.vec_id, comp.sub, codebook.code),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, code) AS rn
    FROM dists) WHERE rn = 1)"""


@query("sim_pq_encode", oracle=f"""
WITH {_DUCK_PQ_BASE}
SELECT vec_id, sub AS subspace, CAST(code AS INTEGER) AS code FROM codes
""")
def sim_pq_encode(spark, sf_dir):
    """PQ encoding: each 64-dim vector becomes 8 subspace codes — a
    32x memory reduction that makes billion-vector indexes RAM-resident.

    Plan: explode to (vec, dim) components once; the codebook (M x K x
    dsub = 640 rows) is an aggregation of the same components and is
    BROADCAST into the assignment join, so encoding is one scan + one
    (vec, sub, code) aggregation + one argmin window keyed on
    (vec, sub) — no shuffle grows with K.  Determinism: squared
    residuals are per-dim IEEE doubles summed through exact DECIMAL;
    argmin ties break on code id; centroid means are exact decimal
    sums over counts (the sim_ann_ivf policy).
    """
    d9 = "decimal(38,9)"
    e = load(spark, sf_dir, "embeddings", wide=True)
    comp = (e.select("vec_id", "label",
                     F.posexplode(F.col("embedding").cast("array<double>"))
                     .alias("pos", "val"))
            .withColumn("dim", F.col("pos") + 1)
            .withColumn("sub", (F.col("pos") / _PQ_DSUB)
                        .cast("int")).drop("pos"))
    codebook = (comp.groupBy(F.col("label").alias("code"), "sub", "dim")
                .agg((F.sum(F.col("val").cast(d9)).cast("double")
                      / F.count(F.lit(1))).alias("cval")))
    dists = (comp.join(F.broadcast(codebook), ["sub", "dim"])
             .groupBy("vec_id", "sub", "code")
             .agg(F.sum(((F.col("val") - F.col("cval"))
                         * (F.col("val") - F.col("cval"))).cast(d9))
                  .alias("d2")))
    # argmin per (vec, sub) as a hash aggregate, not a window:
    # min(struct(d2, code)) selects exactly the
    # row_number-over-(d2 asc, code asc) row (code unique per group),
    # with map-side partial aggregation instead of a full sort of the
    # N*M*K distance table.
    return (dists.groupBy("vec_id", "sub")
            .agg(F.min(F.struct("d2", "code")).alias("m"))
            .select("vec_id", F.col("sub").alias("subspace"),
                    F.col("m.code").cast("int").alias("code")))


@query("sim_pq_adc_topk", oracle=f"""
WITH {_DUCK_PQ_BASE},
lut AS (
  SELECT comp.vec_id AS query_id, comp.sub, codebook.code,
         SUM(CAST((val - cval) * (val - cval) AS DECIMAL(38,9))) AS part
  FROM comp JOIN codebook ON comp.sub = codebook.sub
                         AND comp.dim = codebook.dim
  WHERE comp.vec_id < 5
  GROUP BY comp.vec_id, comp.sub, codebook.code),
scored AS (
  SELECT lut.query_id, codes.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(part AS DECIMAL(38,9))) AS DOUBLE), 9) AS adc_dist
  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
  WHERE codes.vec_id <> lut.query_id
  GROUP BY lut.query_id, codes.vec_id)
SELECT query_id, neighbor_id, adc_dist, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
  FROM scored) WHERE rn <= 5
""")
def sim_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance (ADC) top-k over the PQ codes: each query
    precomputes a (subspace, code) -> partial-distance lookup table
    (M x K = 80 rows per query) and candidates are scored by summing 8
    table hits — never touching raw candidate vectors.

    Scale shape: the LUT (queries x M x K rows) is BROADCAST; the scan
    side is the codes table (8 small rows per vector, in practice a
    packed byte column), so scoring is one broadcast-hash join + one
    (query, vec) aggregation whose width is M rows per pair — the plan
    a billion-vector PQ index runs, with the top-k window per query.
    Exactness: partial distances and their 8-term sums go through
    DECIMAL(38,9); ties break on neighbor id.
    """
    from pyspark.sql.window import Window
    d9 = "decimal(38,9)"
    e = load(spark, sf_dir, "embeddings", wide=True)
    comp = (e.select("vec_id", "label",
                     F.posexplode(F.col("embedding").cast("array<double>"))
                     .alias("pos", "val"))
            .withColumn("dim", F.col("pos") + 1)
            .withColumn("sub", (F.col("pos") / _PQ_DSUB)
                        .cast("int")).drop("pos"))
    # pinned (lazily: the first broadcast build fills it): two broadcast
    # builds read the codebook, and AQE does not share the aggregation
    # below them
    codebook = (comp.groupBy(F.col("label").alias("code"), "sub", "dim")
                .agg((F.sum(F.col("val").cast(d9)).cast("double")
                      / F.count(F.lit(1))).alias("cval"))
                .localCheckpoint(eager=False))
    dists = (comp.join(F.broadcast(codebook), ["sub", "dim"])
             .groupBy("vec_id", "sub", "code")
             .agg(F.sum(((F.col("val") - F.col("cval"))
                         * (F.col("val") - F.col("cval"))).cast(d9))
                  .alias("d2")))
    # argmin per (vec, sub) as a hash aggregate, not a window: same
    # row as row_number-over-(d2 asc, code asc),
    # map-side partial aggregation, no sort of the N*M*K table.
    codes = (dists.groupBy("vec_id", "sub")
             .agg(F.min(F.struct("d2", "code")).alias("m"))
             .select("vec_id", "sub", F.col("m.code").alias("code")))
    lut = (comp.where(F.col("vec_id") < 5)
           .join(F.broadcast(codebook), ["sub", "dim"])
           .groupBy(F.col("vec_id").alias("query_id"), "sub", "code")
           .agg(F.sum(((F.col("val") - F.col("cval"))
                       * (F.col("val") - F.col("cval"))).cast(d9))
                .alias("part")))
    scored = (codes.join(F.broadcast(lut), ["sub", "code"])
              .where(F.col("vec_id") != F.col("query_id"))
              .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
              .agg(F.round(F.sum(F.col("part").cast(d9)).cast("double"), 9)
                   .alias("adc_dist")))
    wk = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(wk))
            .where(F.col("rn") <= 5))


# ---------------------------------------------------------------------------
# IVF + PQ composed index (the FAISS IVFPQ architecture): the coarse
# quantizer routes each query to nprobe cells, and candidates inside
# those cells are scored through their PQ codes with a per-query ADC
# lookup table — raw candidate vectors are never touched, so the scan
# side is 8 bytes per vector regardless of dimension.
# ---------------------------------------------------------------------------

@query("sim_ann_ivfpq", oracle=f"""
WITH {_DUCK_PQ_BASE},
cent AS (
  SELECT label, dim,
    CAST(SUM(CAST(val AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS gcval
  FROM comp GROUP BY label, dim),
qc AS (
  SELECT comp.vec_id AS query_id, cent.label AS probe_label,
    CAST(SUM(CAST(val * gcval AS DECIMAL(38,9))) AS DOUBLE)
      / (sqrt(CAST(SUM(CAST(val * val AS DECIMAL(38,9))) AS DOUBLE))
         * sqrt(CAST(SUM(CAST(gcval * gcval AS DECIMAL(38,9))) AS DOUBLE)))
      AS ccos
  FROM comp JOIN cent ON comp.dim = cent.dim
  WHERE comp.vec_id < 5
  GROUP BY comp.vec_id, cent.label),
probes AS (
  SELECT query_id, probe_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ccos DESC, probe_label) AS prn
    FROM qc) WHERE prn <= 2),
lut AS (
  SELECT comp.vec_id AS query_id, comp.sub, codebook.code,
         SUM(CAST((val - cval) * (val - cval) AS DECIMAL(38,9))) AS part
  FROM comp JOIN codebook ON comp.sub = codebook.sub
                         AND comp.dim = codebook.dim
  WHERE comp.vec_id < 5
  GROUP BY comp.vec_id, comp.sub, codebook.code),
lcodes AS (
  SELECT codes.vec_id, codes.sub, codes.code, e.label
  FROM codes JOIN embeddings e ON codes.vec_id = e.vec_id),
scored AS (
  SELECT lut.query_id, lcodes.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(part AS DECIMAL(38,9))) AS DOUBLE), 9) AS adc_dist
  FROM lcodes
  JOIN probes ON lcodes.label = probes.probe_label
  JOIN lut ON lut.query_id = probes.query_id
          AND lut.sub = lcodes.sub AND lut.code = lcodes.code
  WHERE lcodes.vec_id <> lut.query_id
  GROUP BY lut.query_id, lcodes.vec_id)
SELECT query_id, neighbor_id, adc_dist, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
  FROM scored) WHERE rn <= 5
""")
def sim_ann_ivfpq(spark, sf_dir):
    """Composed IVF+PQ search: sim_ann_ivf's coarse probe routing ON TOP
    OF sim_pq_adc_topk's code-level scoring — the standard
    billion-vector index layout (coarse cells bound the candidate set,
    PQ codes bound the bytes per candidate).

    Scale shape: centroids (nlist x dims) and the per-query LUT
    (queries x M x K) are BROADCAST; the probed-cell candidate join is
    an equi-join on the cell label (~nprobe/nlist of the corpus per
    query, never a cross join); scoring aggregates M=8 one-byte code
    hits per (query, candidate) pair.  Exactness: decimal partial
    sums, ties on id (the sim_pq_adc_topk policy); label blocks stand
    in for trained cells as everywhere in this suite.
    """
    d9 = "decimal(38,9)"
    e = load(spark, sf_dir, "embeddings", wide=True)
    comp = (e.select("vec_id", "label",
                     F.posexplode(F.col("embedding").cast("array<double>"))
                     .alias("pos", "val"))
            .withColumn("dim", F.col("pos") + 1)
            .withColumn("sub", (F.col("pos") / _PQ_DSUB)
                        .cast("int")).drop("pos"))
    # pinned (lazily: the first broadcast build fills it): three
    # broadcast builds read the codebook, and AQE does not share the
    # aggregation below them
    codebook = (comp.groupBy(F.col("label").alias("code"), "sub", "dim")
                .agg((F.sum(F.col("val").cast(d9)).cast("double")
                      / F.count(F.lit(1))).alias("cval"))
                .localCheckpoint(eager=False))
    # coarse quantizer: the full-width centroid table IS the codebook
    # re-keyed: `sub` is a pure function of `dim` (sub =
    # (dim-1)//8), so grouping by (label, sub, dim) == grouping by
    # (label, dim) — same groups, same SUM(CAST(val AS DECIMAL(38,9)))
    # / COUNT(*), bit-identical gcval.  The oracle computes the two
    # CTEs independently with the identical expression.
    cent = codebook.select(F.col("code").alias("probe_label"),
                           F.col("dim").alias("cdim"),
                           F.col("cval").alias("gcval"))
    qcomp = comp.where(F.col("vec_id") < 5)
    qc = (qcomp.join(F.broadcast(cent), qcomp.dim == cent.cdim)
          .groupBy(F.col("vec_id").alias("query_id"), "probe_label")
          .agg((F.sum((F.col("val") * F.col("gcval")).cast(d9)).cast("double")
                / (F.sqrt(F.sum((F.col("val") * F.col("val")).cast(d9))
                          .cast("double"))
                   * F.sqrt(F.sum((F.col("gcval") * F.col("gcval")).cast(d9))
                            .cast("double")))).alias("ccos")))
    wp = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "probe_label")
    probes = (qc.withColumn("prn", F.row_number().over(wp))
              .where(F.col("prn") <= 2).select("query_id", "probe_label"))
    # the cell label is NOT threaded through the code aggregations: the
    # dists groupBy runs over the N*dims*K join fan-out — the heaviest
    # intermediate of the query — and adding a string to its group keys
    # was measured ~10-15% more executor work (interleaved task-time
    # A/B) than re-attaching the label afterwards from a 2-column
    # pruned scan whose join touches only N*M code rows.
    dists = (comp.join(F.broadcast(codebook), ["sub", "dim"])
             .groupBy("vec_id", "sub", "code")
             .agg(F.sum(((F.col("val") - F.col("cval"))
                         * (F.col("val") - F.col("cval"))).cast(d9))
                  .alias("d2")))
    # argmin per (vec, sub) as a hash aggregate, not a window: same
    # row as row_number-over-(d2 asc, code asc),
    # map-side partial aggregation, no sort of the N*M*K table.
    codes = (dists.groupBy("vec_id", "sub")
             .agg(F.min(F.struct("d2", "code")).alias("m"))
             .select("vec_id", "sub", F.col("m.code").alias("code")))
    lcodes = codes.join(e.select("vec_id", "label"), "vec_id")
    # per-query ADC lookup table
    lut = (qcomp
           .join(F.broadcast(codebook), ["sub", "dim"])
           .groupBy(F.col("vec_id").alias("query_id"), "sub", "code")
           .agg(F.sum(((F.col("val") - F.col("cval"))
                       * (F.col("val") - F.col("cval"))).cast(d9))
                .alias("part")))
    scored = (lcodes
              .join(F.broadcast(probes),
                    F.col("label") == F.col("probe_label"))
              .join(F.broadcast(lut), ["query_id", "sub", "code"])
              .where(F.col("vec_id") != F.col("query_id"))
              .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
              .agg(F.round(F.sum(F.col("part").cast(d9)).cast("double"), 9)
                   .alias("adc_dist")))
    wk = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(wk))
            .where(F.col("rn") <= 5)
            .select("query_id", "neighbor_id", "adc_dist", "rn"))


# ---------------------------------------------------------------------------
# hard-negative mining for contrastive training: for each anchor, the
# most similar vector with a DIFFERENT label — the negative that
# actually teaches an embedding model.  Candidates are blocked by the
# same deterministic sign-LSH bucket as sim_ann_signlsh (hard negatives
# are by definition near the anchor, so LSH recall is highest exactly
# where it matters), never a cross join.
# ---------------------------------------------------------------------------

@query("sim_hard_negatives", oracle=f"""
WITH v AS (
  SELECT vec_id, label, embedding,
         sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm,
         CAST(embedding[1] >= 0 AS INT) * 8
         + CAST(embedding[2] >= 0 AS INT) * 4
         + CAST(embedding[3] >= 0 AS INT) * 2
         + CAST(embedding[4] >= 0 AS INT) AS bucket
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
         c.label AS negative_label,
    {_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm)
      AS cosine
  FROM v q JOIN v c ON q.bucket = c.bucket AND q.label <> c.label
  WHERE q.vec_id < 50)
SELECT anchor_id, negative_id, negative_label, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                ORDER BY cosine DESC, negative_id) AS rn FROM scored)
WHERE rn = 1
""")
def sim_hard_negatives(spark, sf_dir):
    """Top-1 cross-label neighbor per anchor — the hard-negative miner
    of contrastive/embedding training pipelines.

    Plan: anchors (a bounded slice) and candidates meet in a sign-LSH
    bucket equi-join with a label-inequality residual (blocked — one
    hot bucket costs |bucket|·|anchors-in-bucket|, never corpus²); the
    per-anchor argmax is a row_number window keyed on the anchor, so
    the shuffle is anchor-keyed and the window never sorts globally.
    Cosines are the same left-to-right double folds as the ANN suite:
    engine-exact."""
    v = _vecs(spark, sf_dir).withColumn(
        "bucket", F.expr(
            "cast(element_at(emb, 1) >= 0 as int) * 8"
            " + cast(element_at(emb, 2) >= 0 as int) * 4"
            " + cast(element_at(emb, 3) >= 0 as int) * 2"
            " + cast(element_at(emb, 4) >= 0 as int)"))
    q = v.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"), F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"), F.col("bucket").alias("qb"),
        F.col("label").alias("ql"))
    c = v.select(F.col("vec_id").alias("negative_id"),
                 F.col("emb").alias("ce"), F.col("nrm").alias("cn"),
                 F.col("bucket").alias("cb"),
                 F.col("label").alias("negative_label"))
    cos = (F.expr(_DOT.format(a="qe", b="ce")) / (F.col("qn") * F.col("cn")))
    scored = (q.join(c, (F.col("qb") == F.col("cb"))
                     & (F.col("ql") != F.col("negative_label")))
              .select("anchor_id", "negative_id", "negative_label",
                      cos.alias("cosine")))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"),
                                                "negative_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# semantic (embedding cosine) rankings — the modern two-tower retrieval
# fusion a curation pipeline uses when neither signal alone is trusted.
# ---------------------------------------------------------------------------

_RRF_K = 60


def _rrf_oracle() -> str:
    from .text import _BM25_DUCK_SCORES
    dot = _DUCK_DOT.format(a="q.embedding", b="c.embedding")
    return f"""
WITH v AS ({_DUCK_VECS}),
sem0 AS (
  SELECT c.vec_id AS doc_id,
         ROUND({dot} / (q.nrm * c.nrm), 6) AS cos
  FROM v c CROSS JOIN (SELECT * FROM v WHERE vec_id = 0) q
  WHERE c.vec_id <> 0),
sem AS (SELECT doc_id, r FROM (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
  FROM sem0) WHERE r <= 50),
lex AS (SELECT doc_id, r FROM (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM ({_BM25_DUCK_SCORES})) WHERE r <= 50),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         CAST(l.r AS BIGINT) AS lex_rank, CAST(s.r AS BIGINT) AS sem_rank,
         ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.r), 0.0)
               + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + s.r), 0.0), 8)
           AS rrf
  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id)
SELECT doc_id, lex_rank, sem_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


@query("sim_hybrid_rrf", oracle=_rrf_oracle())
def sim_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion: top-50 by BM25
    (lexical) and top-50 by embedding cosine against query vector 0
    (semantic), fused with RRF(d) = Σ 1/(60 + rank) — the
    rank-only fusion that needs no score calibration between the two
    retrievers.  Scale shape: each side's top-50 comes from
    orderBy+limit, which Spark plans as TakeOrderedAndProject — a
    per-partition top-k merged on the driver, never a full global
    sort; the row_number ranking then runs over 50 rows.  The fusion
    join is two 50-row sides (broadcast-trivial).  Ranks break ties on
    doc_id over scores rounded to 6 (libm determinism policy), so both
    engines produce identical rank assignments."""
    from .text import _bm25_spark
    v = _vecs(spark, sf_dir)
    q = v.where(F.col("vec_id") == 0).select(F.col("emb").alias("qe"),
                                             F.col("nrm").alias("qn"))
    cos = F.round(F.expr(_DOT.format(a="qe", b="emb"))
                  / (F.col("qn") * F.col("nrm")), 6)
    sem0 = (v.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .select(F.col("vec_id").alias("doc_id"), cos.alias("cos")))
    sem_top = sem0.orderBy(F.desc("cos"), F.asc("doc_id")).limit(50)
    sem = (sem_top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("cos"),
                                                F.asc("doc_id"))))
        .select("doc_id", F.col("r").alias("sem_rank")))
    lex_top = (_bm25_spark(spark, sf_dir)
               .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(50))
    lex = (lex_top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("bm25"),
                                                F.asc("doc_id"))))
        .select("doc_id", F.col("r").alias("lex_rank")))
    one = F.lit(1.0)
    fused = (lex.join(sem, "doc_id", "full")
             .select("doc_id",
                     F.col("lex_rank").cast("bigint").alias("lex_rank"),
                     F.col("sem_rank").cast("bigint").alias("sem_rank"),
                     F.round(
                         F.coalesce(one / (_RRF_K + F.col("lex_rank")),
                                    F.lit(0.0))
                         + F.coalesce(one / (_RRF_K + F.col("sem_rank")),
                                      F.lit(0.0)), 8).alias("rrf")))
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)
