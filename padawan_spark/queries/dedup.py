"""Deduplication suite over ``documents`` / ``embeddings`` — the core
operators of a web-scale training-data pipeline:

- exact dedup by content digest (sha256 group-by);
- MinHash + LSH banding for near-dup *candidate* generation (the
  scalable path: band-key equi-join, never a cross join);
- word-shingle Jaccard verification on candidates;
- SimHash fingerprints + banded Hamming pairs;
- embedding-cosine near-dup within label blocks (IVF-style blocking).

Everything is expressed with JVM-side higher-order functions and joins;
hashes are md5/sha256 so Spark and the DuckDB oracle compute
bit-identical values (verified).  At 100 TB the shapes hold: digests and
band keys shuffle-partition by hash; per-band bucket sizes are bounded
by tuning (n_bands × rows_per_band), and the Jaccard verify join is
document-frequency capped so no shingle fans out more than _DF_CAP².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .registry import load, query

_N_HASH = 8          # minhash signatures
_N_BANDS = 4         # LSH bands (2 rows per band)
_SIM_BITS = 24       # simhash width (64 at production scale)

# portable word tokens / 3-shingles
_SPARK_TOKS = "filter(split(text, ' '), x -> x != '')"
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"


# ---------------------------------------------------------------------------
# exact dedup: digest group-by, min doc_id is canonical
# ---------------------------------------------------------------------------

@query("dedup_exact", oracle="""
SELECT sha256(text) AS digest, CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY sha256(text)
""")
def dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    return (d.groupBy(F.sha2("text", 256).alias("digest"))
            .agg(F.min("doc_id").cast("bigint").alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def _shingles_spark_raw(d: DataFrame) -> DataFrame:
    """Word 3-shingles per doc WITH duplicates (1-based element_at) —
    no shuffle; feeds aggregations that are duplicate-insensitive.

    Measured and not adopted: a compiled
    explode(sequence)+projection variant (no transform lambda — HOFs
    are CodegenFallback, interpreted per element) was set-identical and
    1.4x faster on an ISOLATED shingle+distinct microbench, but dead
    even inside the full jaccard/minhash queries (5-pass alternating
    same-session A/B: 1.91 vs 1.95 s and 0.64 vs 0.60 s) — the shingle
    stage overlaps the join/aggregate work here.  It also copies the
    full token array into every exploded row (Generate materializes
    required child columns per output row), an O(tokens² ) cost per doc
    at real document sizes, so the HOF form is kept."""
    return (d.select("doc_id", F.expr(_SPARK_TOKS).alias("t"))
            .select("doc_id", F.explode(F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1), element_at(t, i + 2)))")).alias("s")))


def _shingles_spark(d: DataFrame) -> DataFrame:
    """Distinct word 3-shingles per doc (set semantics for Jaccard)."""
    return _shingles_spark_raw(d).distinct()


_DUCK_SHINGLES = f"""
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
       unnest(range(1, len(t) - 1)) AS u(i)
"""


def _minhash_spark(spark, sf_dir) -> DataFrame:
    # 8 independent 32-bit minhashes from TWO md5 calls per shingle:
    # the 256 digest bits are sliced into 8 × 8-hex-char keys (md5 bits
    # are i.i.d., so the slices act as independent hash functions at a
    # quarter of the hashing cost — the dominant term at corpus scale).
    # RAW shingles (duplicates kept): MIN aggregation is duplicate-
    # insensitive, so the distinct()'s full shuffle of the widest table
    # in the pipeline is pure waste here — the signature groupBy is the
    # only shuffle.  (The Jaccard verify path still uses the distinct
    # builder: set semantics matter there.)
    sh = _shingles_spark_raw(load(spark, sf_dir, "documents", wide=True))
    d = F.concat(F.md5(F.concat(F.lit("a:"), F.col("s"))),
                 F.md5(F.concat(F.lit("b:"), F.col("s"))))
    sh = sh.withColumn("d", d)
    aggs = [F.min(F.substring("d", 1 + 8 * j, 8)).alias(f"h{j}")
            for j in range(_N_HASH)]
    return sh.groupBy("doc_id").agg(*aggs)


_DUCK_MINHASH = f"""
  SELECT doc_id,
    {", ".join(f"MIN(substr(d, {1 + 8 * j}, 8)) AS h{j}"
               for j in range(_N_HASH))}
  FROM (SELECT doc_id, md5('a:' || s) || md5('b:' || s) AS d
        FROM ({_DUCK_SHINGLES})) GROUP BY doc_id
"""


@query("dedup_minhash_signatures", oracle=f"""
SELECT doc_id, {", ".join(f"h{j}" for j in range(_N_HASH))}
FROM ({_DUCK_MINHASH})
""")
def dedup_minhash_signatures(spark, sf_dir):
    return _minhash_spark(spark, sf_dir)


def _bands_spark(spark, sf_dir) -> DataFrame:
    """LSH band keys, one row per (doc, band).  Both sides of the
    candidate self-join read the same minhash aggregation exchange, which
    AQE reuses, so the minhash pipeline runs once per query."""
    mh = _minhash_spark(spark, sf_dir)
    band_keys = F.array(*[
        F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}")) for b in range(_N_BANDS)])
    return mh.select("doc_id", F.posexplode(band_keys).alias("band", "key"))


@query("dedup_minhash_lsh", oracle=f"""
WITH mh AS ({_DUCK_MINHASH}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS key FROM mh"
      for b in range(_N_BANDS))}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
""")
def dedup_minhash_lsh(spark, sf_dir):
    bands = _bands_spark(spark, sf_dir)
    a = bands.alias("a")
    bb = bands.alias("b")
    return (a.join(bb, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


# ---------------------------------------------------------------------------
# n-gram Jaccard: exact similarity on shingle sets (the verify stage
# after LSH).  The pair-generating self-join is DOCUMENT-FREQUENCY
# CAPPED: shingles appearing in more than _DF_CAP documents (stop
# phrases, boilerplate) are dropped before the join, so per-shingle
# fan-out is bounded by _DF_CAP² instead of df² — a hot shingle can no
# longer turn the verify stage into a disguised cross join at corpus
# scale.  This is the standard df-capping practice; sizes and
# intersections both use the capped set, so the Jaccard estimate stays
# internally consistent (near-dup pairs share many RARE shingles, which
# is exactly what survives the cap).
# ---------------------------------------------------------------------------

_DF_CAP = 64         # max docs a shingle may appear in and still join


@query("dedup_ngram_jaccard", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_DF_CAP}),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
FROM inter
JOIN cnt ca ON doc_a = ca.doc_id
JOIN cnt cb ON doc_b = cb.doc_id
WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
""")
def dedup_ngram_jaccard(spark, sf_dir):
    sh = _shingles_spark(load(spark, sf_dir, "documents", wide=True))
    # No df >= 2 prune of the self-join sides: singleton shingles cannot
    # form a pair, but this small-vocabulary corpus has almost none (207
    # of 27,213 at sf0.1) and the extra filter on both sides measured
    # slower.  On a real web corpus it is the standard inverted-index move.
    rare = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= _DF_CAP).select("s"))
    # pinned: cnt and both self-join sides would each redo the capping
    # join (AQE reuses only the exchanges below it)
    shc = sh.join(rare, "s").localCheckpoint(eager=True)
    cnt = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shc.alias("a")
    b = shc.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")))
    return (inter.join(ca, "doc_a").join(cb, "doc_b")
            .where(jac >= 0.5)
            .select("doc_a", "doc_b", jac.alias("jaccard")))


@query("dedup_containment", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_DF_CAP}),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  CAST(i AS DOUBLE) / ca.n AS contain_a,
  CAST(i AS DOUBLE) / cb.n AS contain_b
FROM inter
JOIN cnt ca ON doc_a = ca.doc_id
JOIN cnt cb ON doc_b = cb.doc_id
WHERE GREATEST(CAST(i AS DOUBLE) / ca.n, CAST(i AS DOUBLE) / cb.n) >= 0.8
""")
def dedup_containment(spark, sf_dir):
    """Asymmetric CONTAINMENT near-dup detection: |A∩B| / |A| — the
    signal Jaccard structurally misses when a short document is embedded
    verbatim inside a much longer one (wire copy in a page, quoted post
    in a thread): the union term dilutes Jaccard below any threshold
    while containment of the short side stays ~1.

    Same bounded verify-join shape as dedup_ngram_jaccard (shingles
    df-capped at {cap} before the self-join, so per-shingle fan-out is
    bounded by cap² and hot boilerplate shingles never explode the
    join); one extra broadcast-size join against per-doc shingle counts
    turns intersections into both directed containment ratios.  Exact
    integer counts, one double division per side.
    """
    # the dedup_ngram_jaccard plan: pinned capped table, no df >= 2 prune
    sh = _shingles_spark(load(spark, sf_dir, "documents", wide=True))
    rare = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= _DF_CAP).select("s"))
    # pinned: cnt and both self-join sides would each redo the capping
    # join (AQE reuses only the exchanges below it)
    shc = sh.join(rare, "s").localCheckpoint(eager=True)
    cnt = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shc.alias("a")
    b = shc.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    c_a = F.col("i").cast("double") / F.col("na")
    c_b = F.col("i").cast("double") / F.col("nb")
    return (inter.join(ca, "doc_a").join(cb, "doc_b")
            .where(F.greatest(c_a, c_b) >= 0.8)
            .select("doc_a", "doc_b", c_a.alias("contain_a"),
                    c_b.alias("contain_b")))


dedup_containment.__doc__ = dedup_containment.__doc__.format(cap=_DF_CAP)


# ---------------------------------------------------------------------------
# SimHash: 24-bit fingerprint from token md5s; banded Hamming pairs
# ---------------------------------------------------------------------------

# portable: parse first 6 hex chars of md5(token) into a bigint
_SPARK_TOKHASH = ("aggregate(transform(sequence(1, 6),"
                  " i -> instr('0123456789abcdef', substr(md5(tok), i, 1)) - 1),"
                  " 0L, (h, c) -> h * 16 + c)")
_DUCK_TOKHASH = ("list_reduce(list_transform(range(1, 7),"
                 " i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1"
                 " AS BIGINT)), (h, c) -> h * 16 + c)")

_DUCK_SIMHASH = f"""
  SELECT doc_id,
    CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
         AS BIGINT) AS simhash
  FROM (
    SELECT doc_id, k, SUM(((th >> k) & 1) * 2 - 1) AS s
    FROM (
      SELECT doc_id, {_DUCK_TOKHASH} AS th
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
    ), unnest(range(0, {_SIM_BITS})) AS u(k)
    GROUP BY doc_id, k
  ) GROUP BY doc_id
"""


def _simhash_spark(spark, sf_dir) -> DataFrame:
    d = load(spark, sf_dir, "documents", wide=True)
    tok = d.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("tok"))
    th = tok.select("doc_id", F.expr(_SPARK_TOKHASH).alias("th"))
    bits = (th.select("doc_id", "th",
                      F.explode(F.expr(f"sequence(0, {_SIM_BITS - 1})")).alias("k"))
            .select("doc_id", "k",
                    (F.expr("(th >> k) & 1") * 2 - 1).alias("v")))
    votes = bits.groupBy("doc_id", "k").agg(F.sum("v").alias("s"))
    return (votes.groupBy("doc_id")
            .agg(F.sum(F.expr("CASE WHEN s >= 0 THEN shiftleft(1L, k) ELSE 0L END"))
                 .alias("simhash")))


@query("dedup_simhash", oracle=f"SELECT doc_id, simhash FROM ({_DUCK_SIMHASH})")
def dedup_simhash(spark, sf_dir):
    return _simhash_spark(spark, sf_dir)


@query("dedup_simhash_pairs", oracle=f"""
WITH sim AS ({_DUCK_SIMHASH}),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS key
  FROM sim, unnest(range(0, 3)) AS u(b))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a JOIN bands b
  ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
""")
def dedup_simhash_pairs(spark, sf_dir):
    sim = _simhash_spark(spark, sf_dir)
    bands = (sim.select("doc_id", "simhash",
                        F.explode(F.expr("sequence(0, 2)")).alias("b"))
             .withColumn("key", F.expr("(simhash >> (b * 8)) & 255")))
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, (F.col("a.b") == F.col("b.b"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .where(ham <= 2)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    ham.alias("hamming"))
            .distinct())


# ---------------------------------------------------------------------------
# embedding-cosine near-dup, blocked by label (IVF-style: candidates only
# within a block — at scale the block is a coarse quantizer cell).
#
# CELL-CAPPED: blocking alone leaves one degenerate hot cell quadratic
# (|cell|² pairs), so the lower-id "keeper" side of the within-cell pair
# join is restricted to the cell's first _CELL_CAP members by vec_id —
# fan-out per cell is then O(cap × |cell|), linear, and a pathological
# cluster at corpus scale can no longer cross-join itself (the vector
# analogue of _DF_CAP on the Jaccard verify join).  Every vector still
# gets compared against the cell's canonical low-id representatives,
# which is exactly what the SemDeDup greedy keep-lowest rule consumes.
# ---------------------------------------------------------------------------

_CELL_CAP = 64       # max lower-id representatives per cell in pair joins

_DUCK_REPS = f"""reps AS (
  SELECT * FROM (
    SELECT e.*, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rk
    FROM embeddings e) WHERE rk <= {_CELL_CAP})"""


def _cell_capped_pairs(withn: DataFrame):
    """(a, b) candidate pairs within label cells, a.vec_id < b.vec_id,
    with the a-side capped to the cell's first ``_CELL_CAP`` members.

    The row_number window shuffles once on the cell key (the same key
    the pair join needs, so Catalyst reuses the exchange); the rank
    filter bounds the join's per-cell fan-out at cap × |cell|."""
    from pyspark.sql import Window
    w = Window.partitionBy("label").orderBy("vec_id")
    reps = (withn.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _CELL_CAP).drop("rk"))
    a, b = reps.alias("a"), withn.alias("b")
    return a.join(b, (F.col("a.label") == F.col("b.label"))
                  & (F.col("a.vec_id") < F.col("b.vec_id")))


_DUCK_DOT = ("list_reduce(list_transform(range(1, 65),"
             " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),"
             " (x, y) -> x + y)")
_DUCK_NORM = ("sqrt(list_reduce(list_transform(range(1, 65),"
              " i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE)),"
              " (x, y) -> x + y))")


@query("dedup_embedding_cosine", oracle=f"""
WITH {_DUCK_REPS}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  {_DUCK_DOT} / ({_DUCK_NORM.format(v='a')} * {_DUCK_NORM.format(v='b')}) AS cosine
FROM reps a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_DUCK_DOT} / ({_DUCK_NORM.format(v='a')} * {_DUCK_NORM.format(v='b')}) >= 0.4
""")
def dedup_embedding_cosine(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings", wide=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))
    norm = "sqrt(aggregate(zip_with({v}, {v}, (x, y) -> x * y), 0D, (acc, x) -> acc + x))"
    withn = e.withColumn("nrm", F.expr(norm.format(v="emb")))
    dot = F.expr("aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (_cell_capped_pairs(withn)
            .where(cos >= 0.4)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    cos.alias("cosine")))


# ---------------------------------------------------------------------------
# fuzzy dedup by edit distance, blocked to avoid the O(n^2) cross join
# ---------------------------------------------------------------------------

@query("dedup_levenshtein", oracle="""
WITH p AS (SELECT p_partkey, p_name,
                  string_split(p_name, ' ')[2] AS blk FROM part WHERE p_partkey <= 500)
SELECT DISTINCT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM p a JOIN p b
  ON a.blk = b.blk AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
""")
def dedup_levenshtein(spark, sf_dir):
    """Fuzzy entity matching by edit distance — the record-linkage
    operator for catalog/metadata dedup.  The quadratic comparison is
    tamed by BLOCKING (here: the noun token of the name); candidates are
    generated by an equi-join on the block key so the shuffle
    partitions by block and Levenshtein runs only within blocks —
    never an unblocked cross join.  Edit distance is integer dynamic
    programming: engine-exact."""
    p = (load(spark, sf_dir, "part").where(F.col("p_partkey") <= 500)
         .select("p_partkey", "p_name",
                 F.split(F.col("p_name"), " ").getItem(1).alias("blk")))
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.p_partkey") < F.col("b.p_partkey")))
            .where(dist.between(1, 3))
            .select(F.col("a.p_partkey").alias("key_a"),
                    F.col("b.p_partkey").alias("key_b"),
                    F.col("a.p_name").alias("name_a"),
                    F.col("b.p_name").alias("name_b"),
                    dist.cast("int").alias("dist"))
            .distinct())


@query("dedup_latest_version", oracle="""
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""")
def dedup_latest_version(spark, sf_dir):
    """Keep-latest-per-key — the compaction every CDC/upsert ingestion
    runs: among all versions of a (user, event_type) key, keep only the
    most recent row.  One window shuffle on the key, rank-1 filter; the
    (ts DESC, event_id DESC) tie-break makes the winner total and
    engine-stable.  The rank-1 winner is computed as
    max(struct(ts, event_id, value)) — the same winner exactly
    ((ts, event_id) is unique per key, so the payload field never
    participates in a comparison), but partial aggregation collapses
    each key's versions map-side, so the exchange moves one row per
    (user, key-version cluster) instead of every version, and the
    post-shuffle sort disappears.  Still one shuffle, AQE still handles
    hot keys."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy("user_id", "event_type")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
            .select("user_id", "event_type",
                    F.col("m.event_id").alias("event_id"),
                    F.col("m.ts").alias("ts"),
                    F.col("m.value").alias("value")))


# ---------------------------------------------------------------------------
# benchmark-contamination check: held-out n-gram overlap
# ---------------------------------------------------------------------------

@query("dedup_contamination", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 50),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_overlap
  FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id)
SELECT t.doc_id, COALESCE(h.n_overlap, 0) AS n_overlap, t.n_shingles,
       CASE WHEN COALESCE(h.n_overlap, 0) * 10 >= t.n_shingles
            THEN 1 ELSE 0 END AS contaminated
FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
""")
def dedup_contamination(spark, sf_dir):
    """Benchmark-contamination check: for every training document, the
    fraction of its word 3-shingles that appear in a held-out benchmark
    set (docs < 50 stand in for the eval suite) — the decontamination
    gate run before any training corpus ships.  The benchmark shingle
    set is distinct-compact and joined by shingle hash; at real scale
    it's millions of shingles → a BROADCAST join against the corpus,
    so the check costs one corpus scan.  Threshold (≥10% overlap →
    contaminated) is integer arithmetic, engine-exact."""
    # sh is referenced by the benchmark set and twice by the corpus side
    # (totals + overlap hits) but NOT checkpointed: all three references
    # share the distinct Exchange, which AQE reuses at runtime
    sh = _shingles_spark(load(spark, sf_dir, "documents", wide=True))
    bench = sh.where(F.col("doc_id") < 50).select("s").distinct()
    corpus = sh.where(F.col("doc_id") >= 50)
    tot = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (corpus.join(F.broadcast(bench), "s")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    return (tot.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                    "n_shingles",
                    F.when(F.coalesce("n_overlap", F.lit(0)) * 10
                           >= F.col("n_shingles"), 1).otherwise(0)
                    .alias("contaminated")))


@query("dedup_blocking_stats", oracle=f"""
WITH mh AS ({_DUCK_MINHASH}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS key FROM mh"
      for b in range(_N_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT n_docs, CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       n_docs * (n_docs - 1) // 2 AS n_possible,
       ROUND(CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
             / (n_docs * (n_docs - 1) / 2), 9) AS candidate_fraction
FROM n
""")
def dedup_blocking_stats(spark, sf_dir):
    """Blocking-efficiency observability: how many candidate pairs the
    LSH banding actually generates versus the n(n-1)/2 a cross join
    would — THE number that tells you whether a dedup run is tractable
    before launching it (a blocking scheme emitting 10% of all pairs is
    a disguised cross join).  Pure integer counting plus one rounded
    ratio; composes the same band tables the candidate join uses."""
    bands = _bands_spark(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    n_docs = load(spark, sf_dir, "documents").count()
    n_cand = cand.count()
    n_possible = n_docs * (n_docs - 1) // 2
    return spark.createDataFrame(
        [(n_docs, n_cand, n_possible,
          round(n_cand / n_possible, 9))],
        "n_docs bigint, n_candidates bigint, n_possible bigint, "
        "candidate_fraction double")


@query("dedup_minhash_estimate", oracle=f"""
WITH mh AS ({_DUCK_MINHASH}),
sh AS ({_DUCK_SHINGLES}),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
exact AS (
  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac
  FROM inter JOIN cnt ca ON doc_a = ca.doc_id
             JOIN cnt cb ON doc_b = cb.doc_id
  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
est AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST({" + ".join(f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END"
                     for j in range(_N_HASH))} AS DOUBLE) / {_N_HASH}
      AS jac_est
  FROM mh a JOIN mh b ON a.doc_id < b.doc_id)
SELECT e.doc_a, e.doc_b, x.jac AS jac_exact, e.jac_est,
       CASE WHEN e.jac_est >= 0.5 THEN 1 ELSE 0 END AS est_flags
FROM est e JOIN exact x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
""")
def dedup_minhash_estimate(spark, sf_dir):
    """MinHash-as-estimator audit: for every truly-near-dup pair
    (exact shingle Jaccard >= 0.5), the signature-agreement estimate
    (matching minhash slots / n_hash) alongside the exact value and
    whether an estimate-threshold pass would flag it.  This is the
    calibration table a production dedup run uses to pick its
    bands x rows configuration: E[agreement] = true Jaccard, and the
    table shows the estimator variance at n_hash=8 directly.  The
    exact side is restricted to already-similar pairs so the join stays
    bounded; integer counting + one division per side — engine-exact."""
    mh = _minhash_spark(spark, sf_dir)
    sh = _shingles_spark(load(spark, sf_dir, "documents", wide=True))
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")))
    exact = (inter.join(ca, "doc_a").join(cb, "doc_b")
             .where(jac >= 0.5)
             .select("doc_a", "doc_b", jac.alias("jac_exact")))
    ma, mb = mh.alias("ma"), mh.alias("mb")
    agree = sum(F.when(F.col(f"ma.h{j}") == F.col(f"mb.h{j}"), 1).otherwise(0)
                for j in range(_N_HASH))
    est = (ma.join(mb, F.col("ma.doc_id") < F.col("mb.doc_id"))
           .select(F.col("ma.doc_id").alias("doc_a"),
                   F.col("mb.doc_id").alias("doc_b"),
                   (agree.cast("double") / _N_HASH).alias("jac_est")))
    return (est.join(exact, ["doc_a", "doc_b"])
            .select("doc_a", "doc_b", "jac_exact", "jac_est",
                    F.when(F.col("jac_est") >= 0.5, 1).otherwise(0)
                    .alias("est_flags")))


# ---------------------------------------------------------------------------
# sub-document segment dedup: drop text SEGMENTS repeated across
# documents (line-level dedup in web-corpus pipelines; segments here are
# fixed 8-word windows since the synthetic text has no newlines).  The
# shape is the production one: explode to (doc, pos, segment), count
# distinct-document frequency per segment, drop segments above the
# threshold, re-assemble surviving segments in order — two hash
# shuffles (segment df, doc re-agg), no self-join, no cross join.
# ---------------------------------------------------------------------------

_SEG_W = 8       # words per segment
_SEG_DF = 2      # drop a segment once it appears in >= this many docs


@query("dedup_segments", oracle=f"""
WITH tok AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[({_SEG_W} * (i - 1) + 1):least({_SEG_W} * i, len(t))],
                         ' ') AS seg
  FROM tok, unnest(range(1, (len(t) + {_SEG_W} - 1) // {_SEG_W} + 1)) AS u(i)
  WHERE len(t) > 0),
freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
kept AS (SELECT s.doc_id, s.pos, s.seg
         FROM segs s JOIN freq f ON s.seg = f.seg WHERE f.df < {_SEG_DF}),
tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY doc_id),
agg AS (SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(seg, ' ' ORDER BY pos) AS cleaned_text
        FROM kept GROUP BY doc_id)
SELECT t.doc_id, t.n_segments, COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(a.cleaned_text, '') AS cleaned_text
FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
""")
def dedup_segments(spark, sf_dir):
    """Cross-document repeated-segment removal — the sub-document dedup
    pass (boilerplate headers, navigation, license blocks) that doc-level
    MinHash cannot express because it keeps-or-drops whole documents.

    Plan: one scan explodes each doc into positioned 8-word segments;
    segment document-frequency is a groupBy keyed on the segment text
    (hash-partitioned — the frequency table CANNOT be broadcast at
    corpus scale, so the filter is an equi-join re-keyed on the same
    segment hash and Catalyst reuses the exchange); surviving segments
    re-aggregate per doc with an array_sort(collect_list(struct(pos,
    seg))) ordered re-assembly (no global sort — ordering is within the
    doc group only).  Everything is string/integer arithmetic:
    engine-exact."""
    d = load(spark, sf_dir, "documents", wide=True)
    segs = (d.select("doc_id", F.expr(_SPARK_TOKS).alias("t"))
            .where(F.size("t") > 0)
            .select("doc_id", F.posexplode(F.expr(
                f"transform(sequence(1, cast(ceil(size(t) / {_SEG_W}.0) as int)),"
                f" i -> concat_ws(' ', slice(t, {_SEG_W} * (i - 1) + 1, {_SEG_W})))"
            )).alias("pos0", "seg"))
            .withColumn("pos", F.col("pos0") + 1).drop("pos0"))
    freq = (segs.groupBy("seg")
            .agg(F.countDistinct("doc_id").alias("df")))
    kept = segs.join(freq.where(F.col("df") < _SEG_DF).select("seg"), "seg")
    # n_segments straight from the scan: the explode
    # yields exactly ceil(n_tokens / W) rows per doc, so the per-doc
    # total is a narrow projection — a groupBy would re-run the whole
    # tokenize+explode subtree and shuffled it back to one row per doc.
    tot = (d.select("doc_id", F.expr(_SPARK_TOKS).alias("t"))
           .where(F.size("t") > 0)
           .select("doc_id",
                   F.ceil(F.size("t") / float(_SEG_W)).alias("n_segments")))
    agg = (kept.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.concat_ws(" ", F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s.seg)).alias("cleaned_text")))
    return (tot.join(agg, "doc_id", "left")
            .select("doc_id", "n_segments",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text")))


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style): within each coarse cluster, greedily
# keep only vectors with no earlier (lower-id) neighbor above the cosine
# threshold.  Label blocks stand in for the k-means cells (the same
# convention as dedup_embedding_cosine / sim_ann_ivf); swapping in
# trained cells from sim_kmeans_train is the same plan.
# ---------------------------------------------------------------------------

_SEM_THETA = 0.4     # cosine threshold for "semantically duplicate"


@query("dedup_semantic", oracle=f"""
WITH {_DUCK_REPS},
drop AS (
  SELECT DISTINCT b.vec_id
  FROM reps a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_DUCK_DOT} / ({_DUCK_NORM.format(v='a')} * {_DUCK_NORM.format(v='b')})
        >= {_SEM_THETA})
SELECT e.vec_id, e.label,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM embeddings e LEFT JOIN drop d ON e.vec_id = d.vec_id
""")
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic pruning: a vector is DROPPED when one of
    its cell's low-id representatives (the first ``_CELL_CAP`` members
    by vec_id) with a lower id sits within the cosine threshold — the
    deterministic greedy rule (scan order = id order) production
    semantic-dedup passes use, so exactly one representative of every
    tight semantic group survives.

    Plan: the near-neighbor pair join is blocked by cluster (equi-join
    on label — at scale a coarse-quantizer cell, never a cross join)
    AND cell-capped via :func:`_cell_capped_pairs`, so a degenerate hot
    cluster costs cap × |cell| comparisons instead of |cell|² (the
    _DF_CAP discipline applied to vectors); the drop set is a distinct
    projection of the pair table and comes back as a LEFT join to flag
    rows.  Cosines are left-to-right double folds, bit-identical across
    engines (dedup_embedding_cosine policy)."""
    e = load(spark, sf_dir, "embeddings", wide=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))
    norm = ("sqrt(aggregate(zip_with({v}, {v}, (x, y) -> x * y), 0D,"
            " (acc, x) -> acc + x))")
    withn = e.withColumn("nrm", F.expr(norm.format(v="emb")))
    dot = F.expr("aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D,"
                 " (acc, x) -> acc + x)")
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    drop = (_cell_capped_pairs(withn)
            .where(cos >= _SEM_THETA)
            .select(F.col("b.vec_id").alias("vec_id"))
            .distinct()
            .withColumn("dropped", F.lit(1)))
    return (e.select("vec_id", "label")
            .join(drop, "vec_id", "left")
            .select("vec_id", "label",
                    F.when(F.col("dropped").isNull(), 1).otherwise(0)
                    .alias("kept")))


# ---------------------------------------------------------------------------
# incremental dedup: a NEW batch against the EXISTING corpus index —
# the day-2 shape of every production dedup service.  The corpus side
# is the persisted band table (here rebuilt from docs < 400; in
# production it is read back from the signature store); the batch side
# (docs >= 400) is banded the same way and candidates come from a
# batch×index band equi-join — never a self-join of the full corpus,
# so daily cost scales with the batch, not the corpus.
# ---------------------------------------------------------------------------

_INCR_SPLIT = 400    # doc_id < split = indexed corpus; >= split = new batch


@query("dedup_incremental", oracle=f"""
WITH mh AS ({_DUCK_MINHASH}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS key FROM mh"
      for b in range(_N_BANDS))}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, x.doc_id AS index_doc
  FROM bands n JOIN bands x
    ON n.band = x.band AND n.key = x.key
  WHERE n.doc_id >= {_INCR_SPLIT} AND x.doc_id < {_INCR_SPLIT}),
batch AS (SELECT doc_id FROM documents WHERE doc_id >= {_INCR_SPLIT})
SELECT b.doc_id AS new_doc,
       CASE WHEN c.new_doc IS NULL THEN 1 ELSE 0 END AS admit,
       CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches
FROM batch b
LEFT JOIN (SELECT DISTINCT new_doc FROM cand) c ON b.doc_id = c.new_doc
LEFT JOIN (SELECT new_doc, COUNT(*) AS n_matches FROM cand
           GROUP BY new_doc) m ON b.doc_id = m.new_doc
""")
def dedup_incremental(spark, sf_dir):
    """Incremental (batch-vs-index) near-dup admission: each NEW
    document is admitted iff no LSH band key collides with the indexed
    corpus, plus the number of index matches for triage.

    Scale shape: the index band table is the persisted output of the
    batch pipeline (millions of (band, key) rows per TB — far too big
    to broadcast), so the candidate join is a hash equi-join on
    (band, key) between the SMALL new batch and the index — per-day
    cost O(batch × collision rate), independent of corpus size, and
    the admitted batch's bands append to the index for tomorrow.
    Same md5 signature arithmetic as dedup_minhash_lsh: engine-exact."""
    bands = _bands_spark(spark, sf_dir)
    new_b = bands.where(F.col("doc_id") >= _INCR_SPLIT)
    idx_b = bands.where(F.col("doc_id") < _INCR_SPLIT)
    cand = (new_b.alias("n")
            .join(idx_b.alias("x"), (F.col("n.band") == F.col("x.band"))
                  & (F.col("n.key") == F.col("x.key")))
            .select(F.col("n.doc_id").alias("new_doc"),
                    F.col("x.doc_id").alias("index_doc"))
            .distinct())
    matches = (cand.groupBy("new_doc")
               .agg(F.count(F.lit(1)).alias("n_matches")))
    batch = (load(spark, sf_dir, "documents")
             .where(F.col("doc_id") >= _INCR_SPLIT).select("doc_id"))
    return (batch.join(matches, batch.doc_id == matches.new_doc, "left")
            .select(F.col("doc_id").alias("new_doc"),
                    F.when(F.col("n_matches").isNull(), 1).otherwise(0)
                    .alias("admit"),
                    F.coalesce("n_matches", F.lit(0)).cast("bigint")
                    .alias("n_matches")))


# ---------------------------------------------------------------------------
# exact-substring dedup (the suffix-array training-data dedup idea,
# re-expressed as bounded rolling windows): find documents that share an
# EXACT character window with another document.  The full suffix-array
# construction is a single-machine algorithm; the distributed shape that
# survives 100 TB is fixed-width windows at a stride — every window is a
# (hash, doc) row, duplicates are a group-by on the hash, and the
# verdict joins back per document.  Window/stride trade recall for cost:
# W=40, S=10 means any duplicated span >= W+S-1 chars is caught.
# ---------------------------------------------------------------------------

_ESS_W, _ESS_S = 40, 10


@query("dedup_exact_substring", oracle=f"""
WITH w AS (
  SELECT doc_id, md5(substr(text, CAST(p AS INTEGER), {_ESS_W})) AS h FROM (
    SELECT doc_id, text,
           unnest(range(1, len(text) - {_ESS_W} + 2, {_ESS_S})) AS p
    FROM documents WHERE len(text) >= {_ESS_W})),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM w GROUP BY 1),
sh AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM w JOIN sh USING (h) GROUP BY 1)
SELECT t.doc_id, t.n_windows,
       CAST(COALESCE(sc.n_shared, 0) AS BIGINT) AS n_shared_windows,
       CAST(COALESCE(sc.n_shared, 0) > 0 AS INTEGER) AS is_dup
FROM tot t LEFT JOIN sc ON t.doc_id = sc.doc_id
""")
def dedup_exact_substring(spark, sf_dir):
    """Exact duplicated-span detection via strided rolling windows:
    per document, how many of its 40-char windows (stride 10) occur
    verbatim in at least one OTHER document.  This is the distributed
    re-expression of suffix-array substring dedup (reference scope ends
    at partitioning; this extends it for training-data curation):
    windows are md5-hashed so Spark and the oracle agree bit-exactly
    and the shuffle key is 16 bytes regardless of W.

    Scale shape: one explode (W/S rows per char — bounded 10x blowup),
    one hash-shuffle group-by on the window hash (duplicate detection),
    one equi-join back on the hash, one per-doc count.  No pairwise
    joins anywhere: a window shared by k docs costs k rows, not k² —
    the property that lets this run where the quadratic candidate
    listing of naive substring dedup cannot.  Intra-doc repeats do NOT
    count (COUNT(DISTINCT doc_id) >= 2), matching the dedup semantics
    of removing cross-document boilerplate."""
    d = load(spark, sf_dir, "documents", wide=True)
    wins = (d.where(F.length("text") >= _ESS_W)
            .select("doc_id", "text",
                    F.explode(F.sequence(
                        F.lit(1), F.length("text") - _ESS_W + 1,
                        F.lit(_ESS_S))).alias("p"))
            .select("doc_id",
                    F.md5(F.expr(f"substring(text, p, {_ESS_W})")).alias("h")))
    # pre-aggregate to (doc, window-hash) counts: the explode feeds ONE
    # map-side partial agg, every downstream aggregate works on the
    # reduced table, and the three consumers share the exchange
    g = wins.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    tot = g.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_windows"))
    # one row per (doc, h) ⇒ rows-per-h IS the distinct-doc count
    sh = (g.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
          .where(F.col("nd") >= 2).select("h"))
    sc = (g.join(sh, "h")
          .groupBy("doc_id")
          .agg(F.sum("c").cast("bigint").alias("n_shared")))
    return (tot.join(sc, "doc_id", "left")
            .select("doc_id", "n_windows",
                    F.coalesce("n_shared", F.lit(0)).cast("bigint")
                    .alias("n_shared_windows"),
                    (F.coalesce("n_shared", F.lit(0)) > 0).cast("int")
                    .alias("is_dup")))


# ---------------------------------------------------------------------------
# the curation FUNNEL as one query: exact dedup, then LSH-candidate +
# Jaccard-verified near-dup pruning over the exact survivors — per-stage
# survival accounting, the observability row every production dedup run
# reports.  Composes the suite's own stages end-to-end (the integration
# check that the pieces agree when chained, not just in isolation).
# ---------------------------------------------------------------------------

@query("dedup_funnel", oracle=f"""
WITH canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
mh0 AS ({_DUCK_MINHASH}),
mh AS (SELECT mh0.* FROM mh0 JOIN canon USING (doc_id)),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS key FROM mh"
      for b in range(_N_BANDS))}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sh0 AS ({_DUCK_SHINGLES}),
sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN canon USING (doc_id)),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_DF_CAP}),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
verified AS (
  SELECT inter.doc_a, inter.doc_b
  FROM inter
  JOIN cand ON inter.doc_a = cand.doc_a AND inter.doc_b = cand.doc_b
  JOIN cnt ca ON inter.doc_a = ca.doc_id
  JOIN cnt cb ON inter.doc_b = cb.doc_id
  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
dups AS (SELECT DISTINCT doc_b AS doc_id FROM verified)
SELECT 'exact' AS stage,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS docs_in,
       CAST((SELECT COUNT(*) FROM canon) AS BIGINT) AS docs_out
UNION ALL
SELECT 'near_dup',
       CAST((SELECT COUNT(*) FROM canon) AS BIGINT),
       CAST((SELECT COUNT(*) FROM canon)
            - (SELECT COUNT(*) FROM dups) AS BIGINT)
""")
def dedup_funnel(spark, sf_dir):
    """Per-stage dedup survival funnel: (1) exact — one canonical doc
    per sha256 digest; (2) near-dup — over the exact survivors, LSH
    band candidates verified by df-capped shingle Jaccard >= 0.5, keep
    a doc iff it has NO verified lower-id partner (the same keep-min
    rule as dedup_semantic).  Emits (stage, docs_in, docs_out) —
    integer-exact.

    Scale shape: each stage reuses the suite's own bounded plans
    (digest group-by; band table equi-join; df-capped shingle
    self-join gated by the candidate set), and the stage counters are
    single-row aggregates cross-joined into the 2-row result — no
    collect, no driver-side loop."""
    d = load(spark, sf_dir, "documents", wide=True)
    canon = (d.groupBy(F.sha2("text", 256).alias("dg"))
             .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    bands = _bands_spark(spark, sf_dir).join(canon, "doc_id")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    # the dedup_ngram_jaccard verify join over the canonical docs
    sh = _shingles_spark(d).join(canon, "doc_id")
    rare = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= _DF_CAP).select("s"))
    shc = sh.join(rare, "s")
    cnt = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = shc.alias("sa"), shc.alias("sb")
    inter = (sa.join(sb, (F.col("sa.s") == F.col("sb.s"))
                     & (F.col("sa.doc_id") < F.col("sb.doc_id")))
             .groupBy(F.col("sa.doc_id").alias("doc_a"),
                      F.col("sb.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")))
    verified = (inter.join(cand, ["doc_a", "doc_b"])
                .join(ca, "doc_a").join(cb, "doc_b")
                .where(jac >= 0.5))
    dups = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    nc = canon.agg(F.count(F.lit(1)).cast("bigint").alias("n_canon"))
    ndup = dups.agg(F.count(F.lit(1)).cast("bigint").alias("n_dup"))
    row1 = (tot.crossJoin(nc)
            .select(F.lit("exact").alias("stage"),
                    F.col("n_total").alias("docs_in"),
                    F.col("n_canon").alias("docs_out")))
    row2 = (nc.crossJoin(ndup)
            .select(F.lit("near_dup").alias("stage"),
                    F.col("n_canon").alias("docs_in"),
                    (F.col("n_canon") - F.col("n_dup")).cast("bigint")
                    .alias("docs_out")))
    return row1.unionByName(row2)
