"""Training-data pipeline operators beyond curation/dedup: reproducible
splits, sequence packing, mixture sampling, and chunking — the remaining
plumbing between a curated corpus and a dataloader.

All four are pure row-local arithmetic or key-partitioned windows:

- ``pipe_hash_split``: deterministic train/val/test assignment by md5
  bucket of the doc id — no shuffle beyond the final stats aggregation,
  stable across runs/engines, the standard leak-proof split.
- ``pipe_sequence_packing``: contiguous GPT-style packing — documents
  (in stable doc_id order WITHIN each source) are concatenated and cut
  into fixed token budgets; a doc's bin is the exclusive prefix-sum of
  token counts divided by the budget.  Partitioned by source, so the
  window parallelizes per source shard instead of one global sort (the
  100 TB shape: pack per shard, never globally).
- ``pipe_weighted_mixture``: temperature-style mixture sampling — each
  language gets a target retention rate, applied as a salted-hash
  threshold per row (deterministic, no RNG state, trivially
  distributed).
- ``text_chunk_windows``: overlapping token windows (size 16, stride
  12) per document via sequence + explode — JVM-side array ops, no UDF,
  embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import load, query
from .text import _DUCK_TOKS, _SPARK_TOKS

# portable md5 bucket in [0, 100); salt distinguishes independent draws
_SPARK_BUCKET = ("conv(substring(md5(concat('{salt}', cast(doc_id as string"
                 "))), 1, 8), 16, 10) % 100")
_DUCK_BUCKET = ("CAST(('0x' || substr(md5('{salt}' || CAST(doc_id AS "
                "VARCHAR)), 1, 8)) AS BIGINT) % 100")


@query("pipe_hash_split", oracle=f"""
SELECT CASE WHEN {_DUCK_BUCKET.format(salt='split:')} < 90 THEN 'train'
            WHEN {_DUCK_BUCKET.format(salt='split:')} < 95 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY split, lang
""")
def pipe_hash_split(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    b = F.expr(_SPARK_BUCKET.format(salt="split:"))
    split = (F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
             .alias("split"))
    return (d.select(split, "lang", "n_chars")
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


_PACK_BUDGET = 256  # tokens per packed sequence


@query("pipe_sequence_packing", oracle=f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt
  FROM documents),
c AS (
  SELECT source, doc_id, nt,
    COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t)
SELECT source, CAST(cum // {_PACK_BUDGET} AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens
FROM c GROUP BY source, bin_id
""")
def pipe_sequence_packing(spark, sf_dir):
    from pyspark.sql.window import Window
    d = load(spark, sf_dir, "documents", wide=True)
    t = d.select("source", "doc_id",
                 F.expr(f"cast(size({_SPARK_TOKS}) as bigint)").alias("nt"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = t.withColumn("cum", F.coalesce(F.sum("nt").over(w), F.lit(0)))
    return (c.withColumn("bin_id",
                         F.floor(F.col("cum") / _PACK_BUDGET).cast("bigint"))
            .groupBy("source", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nt").alias("total_tokens")))


# per-language retention rates (percent) — a temperature-balanced mixture
_MIX_RATES = {"en": 90, "de": 70, "fr": 50, "es": 40, "zh": 20}
_MIX_DEFAULT = 10


@query("pipe_weighted_mixture", oracle=f"""
SELECT source, lang, COUNT(*) AS n_kept
FROM documents
WHERE {_DUCK_BUCKET.format(salt='mix:')} <
  CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())}
  ELSE {_MIX_DEFAULT} END
GROUP BY source, lang
""")
def pipe_weighted_mixture(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    rate = F.lit(_MIX_DEFAULT)
    for k, v in reversed(_MIX_RATES.items()):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    b = F.expr(_SPARK_BUCKET.format(salt="mix:"))
    return (d.where(b < rate)
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_kept")))


_CHUNK, _STRIDE = 16, 12


@query("text_chunk_windows", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks,
             unnest(range(1, len(toks) + 1, {_STRIDE})) AS st
      FROM t)
SELECT doc_id, CAST((st - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, st,
                least(st + {_CHUNK} - 1, len(toks)))) AS BIGINT) AS n_tokens,
       toks[st] AS head_token
FROM s
""")
def text_chunk_windows(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    t = d.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
    s = t.select(
        "doc_id", "toks",
        F.posexplode(F.expr(f"sequence(1, size(toks), {_STRIDE})"))
        .alias("k", "st"))
    return s.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_idx"),
        F.expr(f"cast(size(slice(toks, st, {_CHUNK})) as bigint)")
        .alias("n_tokens"),
        F.expr("element_at(toks, st)").alias("head_token"))


_LEN_BUCKET, _BATCH_SIZE = 16, 32


@query("pipe_length_batching", oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt FROM documents),
b AS (
  SELECT doc_id, nt, nt // {_LEN_BUCKET} AS bucket,
         ROW_NUMBER() OVER (PARTITION BY nt // {_LEN_BUCKET}
                            ORDER BY doc_id) AS rn
  FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST((rn - 1) // {_BATCH_SIZE} AS BIGINT) AS batch_id,
       COUNT(*) AS n_docs, CAST(MAX(nt) AS BIGINT) AS max_tokens,
       CAST(SUM(nt) AS BIGINT) AS total_tokens
FROM b GROUP BY bucket, batch_id
""")
def pipe_length_batching(spark, sf_dir):
    """Length-bucketed batching — the inference/serving counterpart of
    sequence packing: documents are grouped into token-length buckets
    (width 16) and cut into fixed-size batches (32 docs) within each
    bucket in stable doc_id order, minimizing intra-batch padding
    (batch cost = max_tokens x batch_size).  The window partitions by
    BUCKET, so batching parallelizes per bucket — never a global sort;
    at 100 TB each bucket shard batches independently.  Pure integer
    arithmetic throughout."""
    from pyspark.sql.window import Window
    d = load(spark, sf_dir, "documents", wide=True)
    t = d.select("doc_id",
                 F.expr(f"cast(size({_SPARK_TOKS}) as bigint)").alias("nt"))
    b = (t.withColumn("bucket", F.floor(F.col("nt") / _LEN_BUCKET))
         .withColumn("rn", F.row_number().over(
             Window.partitionBy("bucket").orderBy("doc_id"))))
    return (b.withColumn("batch_id",
                         F.floor((F.col("rn") - 1) / _BATCH_SIZE)
                         .cast("bigint"))
            .groupBy(F.col("bucket").cast("bigint").alias("bucket"),
                     "batch_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max("nt").cast("bigint").alias("max_tokens"),
                 F.sum("nt").cast("bigint").alias("total_tokens")))


_N_SHARDS = 16   # training shards (files a dataloader worker owns)

# order-independent per-doc content fingerprint: 32-bit md5 prefix over
# (id, text), summed per shard — verifies shard CONTENT without
# imposing any row ordering, so it is partition-layout-invariant
_SPARK_FP = ("conv(substring(md5(concat('fp:', cast(doc_id as string),"
             " ':', text)), 1, 8), 16, 10)")
_DUCK_FP = ("CAST(('0x' || substr(md5('fp:' || CAST(doc_id AS VARCHAR)"
            " || ':' || text), 1, 8)) AS BIGINT)")


_SPARK_SHARD = ("conv(substring(md5(concat('shard:', cast(doc_id as string"
                f"))), 1, 8), 16, 10) % {_N_SHARDS}")
_DUCK_SHARD = ("CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS "
               f"VARCHAR)), 1, 8)) AS BIGINT) % {_N_SHARDS}")


@query("pipe_shard_manifest", oracle=f"""
SELECT CAST({_DUCK_SHARD} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM({_DUCK_FP}) AS BIGINT) AS content_fp
FROM documents GROUP BY shard_id
""")
def pipe_shard_manifest(spark, sf_dir):
    """Training-shard manifest: every document is assigned to one of
    N_SHARDS shards by a salted content-independent hash of its id
    (deterministic across engines, partitionings, and re-runs — the
    property a resumable dataloader needs), and each shard row carries
    the doc/token/byte budget a loader uses for balanced worker
    scheduling plus an ORDER-INDEPENDENT content fingerprint (sum of
    per-doc 32-bit digests) that verifies shard membership without
    materializing or sorting the shard.

    Plan: one scan, per-row hash/token arithmetic, one groupBy keyed on
    the shard id (N_SHARDS groups — partial aggregation collapses each
    input partition to ≤N_SHARDS rows before the shuffle).  At 100 TB
    this is the manifest-building job that runs after curation and
    before training.  Integer arithmetic end to end: engine-exact."""
    d = load(spark, sf_dir, "documents", wide=True)
    shard = F.expr(_SPARK_SHARD)
    return (d.select(shard.cast("bigint").alias("shard_id"),
                     F.expr(f"cast(size({_SPARK_TOKS}) as bigint)").alias("nt"),
                     "n_chars", F.expr(_SPARK_FP).alias("fp"))
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nt").cast("bigint").alias("total_tokens"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.sum("fp").cast("bigint").alias("content_fp")))


@query("pipe_dataset_card", oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_exact_dups
FROM documents GROUP BY source
""")
def pipe_dataset_card(spark, sf_dir):
    """Per-source dataset card: the summary block (doc/token/byte
    budgets, length envelope, language spread, exact-duplicate count)
    every published training corpus reports — computed in ONE scan with
    a single groupBy on source.  The duplicate count reuses the exact
    sha256 digest of dedup_exact as a COUNT(DISTINCT) so the card's
    dup-rate agrees with what the dedup pass would remove.  All
    integer aggregates: engine-exact."""
    d = load(spark, sf_dir, "documents", wide=True)
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(f"cast(size({_SPARK_TOKS}) as bigint)"))
                 .cast("bigint").alias("total_tokens"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.min("n_chars").cast("bigint").alias("min_chars"),
                 F.max("n_chars").cast("bigint").alias("max_chars"),
                 F.countDistinct("lang").alias("n_langs"),
                 (F.count(F.lit(1)) - F.countDistinct(F.sha2("text", 256)))
                 .alias("n_exact_dups")))


_N_EPOCHS = 2


@query("pipe_epoch_shuffle", oracle=f"""
SELECT epoch, shard_id, doc_id, rank FROM (
  SELECT e.epoch, {_DUCK_SHARD} AS shard_id, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.epoch, {_DUCK_SHARD}
           ORDER BY md5('ep' || CAST(e.epoch AS VARCHAR) || ':'
                        || CAST(doc_id AS VARCHAR)), doc_id) AS rank
  FROM documents CROSS JOIN
       (SELECT i AS epoch FROM range(0, {_N_EPOCHS}) t(i)) e)
WHERE rank <= 5
""")
def pipe_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch reshuffling — the dataloader's shuffle(seed=
    epoch) without RNG state: within each shard, every epoch orders
    documents by a salted content-independent hash (salt = epoch), so
    (a) every worker/engine derives the identical order, (b) each epoch
    is a fresh permutation, and (c) a resumed job replays the exact
    order from any position.  The rank window partitions by (epoch,
    shard) — parallel across shards, never a global sort.  Emitted here:
    the first 5 docs per (epoch, shard), which pins the permutation in
    the value hash."""
    from pyspark.sql.window import Window
    d = load(spark, sf_dir, "documents", wide=True)
    epochs = spark.range(_N_EPOCHS).select(F.col("id").cast("int")
                                           .alias("epoch"))
    keyed = (d.select("doc_id", F.expr(_SPARK_SHARD).alias("shard_id"))
             .crossJoin(F.broadcast(epochs))
             .withColumn("k", F.md5(F.concat(
                 F.lit("ep"), F.col("epoch").cast("string"), F.lit(":"),
                 F.col("doc_id").cast("string")))))
    w = Window.partitionBy("epoch", "shard_id").orderBy("k", "doc_id")
    return (keyed.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("epoch", F.col("shard_id").cast("bigint").alias("shard_id"),
                    "doc_id", "rank"))


_FH_DIM = 64    # hashed feature dimension


@query("pipe_feature_hashing", oracle=f"""
SELECT doc_id,
       CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % {_FH_DIM} AS slot,
       COUNT(*) AS cnt
FROM documents, unnest({_DUCK_TOKS}) AS u(x)
GROUP BY doc_id, slot
""")
def pipe_feature_hashing(spark, sf_dir):
    """Hashing-trick vectorizer (HashingVectorizer / feature hashing):
    bag-of-words folded into a fixed 64-dim count vector by hashing
    each token to a slot — the no-vocabulary featurizer linear models
    and MinHash-free near-dup scorers use at corpus scale, because it
    needs NO global vocabulary build, no broadcast dictionary, and its
    output width is constant regardless of token diversity.

    Plan: one scan, explode to tokens, portable md5 slot per token, one
    (doc, slot) aggregation — partial aggregation collapses the token
    fan-out map-side, and the only shuffle is keyed on (doc, slot).
    Sparse output rows (doc, slot, count) are the scalable encoding;
    densifying to array<double> is one groupBy away.  Integer
    arithmetic: engine-exact."""
    d = load(spark, sf_dir, "documents", wide=True)
    toks = d.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("x"))
    slot = (F.expr("conv(substring(md5(x), 1, 8), 16, 10)")
            .cast("bigint") % _FH_DIM)
    return (toks.select("doc_id", slot.alias("slot"))
            .groupBy("doc_id", "slot")
            .agg(F.count(F.lit(1)).alias("cnt")))


# ---------------------------------------------------------------------------
# importance resampling (DSIR-shaped): score every document by the
# log-likelihood ratio of its tokens under a TARGET unigram
# distribution (here: the lang='en' slice, standing in for the
# high-quality reference corpus) vs the full-corpus distribution, and
# accept documents whose average ratio is positive.  This is the
# domain-selection operator of data-mixture pipelines: cheap unigram
# LMs trained in two aggregations, then one scoring scan.
# ---------------------------------------------------------------------------

@query("pipe_importance_resampling", oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS w FROM documents),
corpus AS (SELECT w, COUNT(*) AS cf FROM tok GROUP BY w),
target AS (SELECT w, COUNT(*) AS tf FROM tok WHERE lang = 'en' GROUP BY w),
freq AS (
  SELECT c.w, c.cf, COALESCE(t.tf, 0) AS tf
  FROM corpus c LEFT JOIN target t ON c.w = t.w),
tot AS (SELECT SUM(tf) AS nt, SUM(cf) AS nc, COUNT(*) AS v FROM freq),
llr AS (
  SELECT w, ln((tf + 1.0) / (nt + v)) - ln((cf + 1.0) / (nc + v)) AS lw
  FROM freq CROSS JOIN tot),
sc AS (
  SELECT tok.doc_id, COUNT(*) AS n_tokens,
         ROUND(CAST(SUM(CAST(lw AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
           + 0.0 AS llr_score
  FROM tok JOIN llr ON tok.w = llr.w
  GROUP BY tok.doc_id)
SELECT doc_id, n_tokens, llr_score,
       CASE WHEN llr_score > 0 THEN 1 ELSE 0 END AS accept
FROM sc
""")
def pipe_importance_resampling(spark, sf_dir):
    """DSIR-style importance scoring: two unigram LMs (target slice vs
    full corpus, add-one smoothing over the shared vocabulary) and a
    per-document average token log-likelihood ratio; ``accept`` keeps
    documents that look more like the target than the background.

    Scale shape: the two count tables are one token-keyed aggregation
    each over the SAME exploded scan (Catalyst reuses the exchange);
    totals ride a 1-row broadcast (q22 in-plan-scalar pattern); the
    per-token ratio table is vocabulary-sized → broadcast to the
    scoring scan, which then re-aggregates doc-keyed.  However large
    the corpus: 2 aggregations + 1 broadcast-join scan, no self-join.
    Determinism: each ln() is one libm call on an exact rational,
    summed through exact DECIMAL, rounded once (text_bigram_logprob
    policy)."""
    d = load(spark, sf_dir, "documents", wide=True)
    tok = d.select("doc_id", "lang",
                   F.explode(F.expr(_SPARK_TOKS)).alias("w"))
    # BOTH unigram LMs from ONE aggregation:
    # the target count is a conditional count over the same exploded
    # scan, so corpus-vs-target needs one explode + one shuffle, not
    # two of each plus a vocabulary join (tf == the old left-join +
    # coalesce(tf, 0): a vocab word with no en occurrences counts 0).
    freq = (tok.groupBy("w")
            .agg(F.count(F.lit(1)).alias("cf"),
                 F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                 .cast("bigint").alias("tf")))
    tot = freq.agg(F.sum("tf").alias("nt"), F.sum("cf").alias("nc"),
                   F.count(F.lit(1)).alias("v"))
    llr = (freq.crossJoin(F.broadcast(tot))
           .select("w", (F.log((F.col("tf") + 1.0) / (F.col("nt") + F.col("v")))
                         - F.log((F.col("cf") + 1.0)
                                 / (F.col("nc") + F.col("v")))).alias("lw")))
    sc = (tok.join(F.broadcast(llr), "w")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("n_tokens"),
               (F.round(F.sum(F.col("lw").cast("decimal(38,12)"))
                        .cast("double") / F.count(F.lit(1)), 6)
                + F.lit(0.0))        # canonicalize IEEE -0.0 -> 0.0
               .alias("llr_score")))
    return sc.select(
        "doc_id", "n_tokens", "llr_score",
        F.when(F.col("llr_score") > 0, 1).otherwise(0).alias("accept"))


# ---------------------------------------------------------------------------
# per-source adaptive quality floor: drop each source's bottom quartile
# by token count — the "adaptive threshold" filtering pattern (a fixed
# global cutoff over-prunes terse sources and under-prunes verbose
# ones).  Integer rank arithmetic only: engine-exact.
# ---------------------------------------------------------------------------

@query("pipe_quality_floor", oracle=f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt
  FROM documents),
r AS (
  SELECT doc_id, source, nt,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM t)
SELECT doc_id, source, nt,
       CASE WHEN rk > n // 4 THEN 1 ELSE 0 END AS kept
FROM r
""")
def pipe_quality_floor(spark, sf_dir):
    """Keep each source's top three quartiles by token count (rank
    computed per source, ties broken by doc_id) — the per-domain
    adaptive filter of corpus curation.

    Scale shape: one scan, one window partitioned by SOURCE (each
    source sorts independently — per-shard parallelism, no global
    sort), integer ranks — deterministic across engines and runs.  At
    100 TB a skewed source would use the two-level (source, day)
    window + boundary-stitch pattern from the events suite; sources
    here are bounded."""
    d = load(spark, sf_dir, "documents", wide=True)
    from pyspark.sql import Window
    t = d.select("doc_id", "source",
                 F.expr(f"cast(size({_SPARK_TOKS}) as bigint)").alias("nt"))
    w = Window.partitionBy("source").orderBy("nt", "doc_id")
    wn = Window.partitionBy("source")
    r = (t.withColumn("rk", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(wn)))
    return r.select(
        "doc_id", "source", "nt",
        F.when(F.col("rk") > F.floor(F.col("n") / 4), 1).otherwise(0)
        .alias("kept"))


# ---------------------------------------------------------------------------
# token-budget epoch planning (data-constrained scaling): given a total
# training-token budget split evenly across sources, how many epochs
# (repeats) of each source fit — capped at a max repeat count, floored
# at one epoch.  The planning table a mixture dataloader consumes.
# ---------------------------------------------------------------------------

_EPOCH_BUDGET = 200_000   # total token budget across all sources
_EPOCH_MAX = 4            # repeating data more stops helping


@query("pipe_token_budget_epochs", oracle=f"""
WITH t AS (
  SELECT source, CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS src_tokens,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source),
n AS (SELECT COUNT(*) AS n_sources FROM t)
SELECT source, n_docs, src_tokens,
       CAST(LEAST({_EPOCH_MAX}, GREATEST(1,
            ({_EPOCH_BUDGET} // n_sources) // src_tokens)) AS BIGINT)
         AS epochs,
       CAST(LEAST({_EPOCH_MAX}, GREATEST(1,
            ({_EPOCH_BUDGET} // n_sources) // src_tokens)) * src_tokens
         AS BIGINT) AS planned_tokens
FROM t CROSS JOIN n
""")
def pipe_token_budget_epochs(spark, sf_dir):
    """Per-source epoch (repeat) plan under a fixed token budget: each
    source gets budget/n_sources tokens; epochs = clamp(budget_share //
    source_tokens, 1, max).  Pure integer division — engine-exact —
    and one source-keyed aggregation plus a 1-row broadcast for the
    source count (q22 in-plan-scalar pattern); at any corpus size this
    is a single partial+final agg over the token-count scan."""
    d = load(spark, sf_dir, "documents", wide=True)
    t = (d.select("source", F.expr(f"size({_SPARK_TOKS})").alias("nt"))
         .groupBy("source")
         .agg(F.sum("nt").cast("bigint").alias("src_tokens"),
              F.count(F.lit(1)).alias("n_docs")))
    n = t.agg(F.count(F.lit(1)).alias("n_sources"))
    share = F.floor(F.lit(_EPOCH_BUDGET) / F.col("n_sources"))
    epochs = F.least(F.lit(_EPOCH_MAX),
                     F.greatest(F.lit(1),
                                F.floor(share / F.col("src_tokens"))))
    return (t.crossJoin(F.broadcast(n))
            .select("source", "n_docs", "src_tokens",
                    epochs.cast("bigint").alias("epochs"),
                    (epochs * F.col("src_tokens")).cast("bigint")
                    .alias("planned_tokens")))


# ---------------------------------------------------------------------------
# packed-sequence offset table: the row-level artifact a packed trainer
# actually loads — for every document, which packed sequence (bin) it
# starts in and at which token offset, plus how many of its tokens
# spill into the next bin when it straddles a boundary.
# ---------------------------------------------------------------------------

@query("pipe_packing_offsets", oracle=f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt
  FROM documents),
c AS (
  SELECT source, doc_id, nt,
    COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t)
SELECT source, doc_id, nt,
       CAST(cum // {_PACK_BUDGET} AS BIGINT) AS bin_id,
       CAST(cum % {_PACK_BUDGET} AS BIGINT) AS offset,
       CAST(GREATEST(0, cum % {_PACK_BUDGET} + nt - {_PACK_BUDGET})
            AS BIGINT) AS spill_tokens
FROM c
""")
def pipe_packing_offsets(spark, sf_dir):
    """Per-document placement inside the packed-sequence stream: bin id,
    token offset within the bin, and boundary spill — the companion of
    :func:`pipe_sequence_packing` (which emits per-bin stats) at row
    granularity, i.e. the index a packed dataloader uses to reassemble
    attention-mask segments.

    Same scale shape as packing: one scan and ONE window partitioned by
    source (per-shard prefix sums, no global sort); everything else is
    row-local integer arithmetic — engine-exact."""
    from pyspark.sql.window import Window
    d = load(spark, sf_dir, "documents", wide=True)
    t = d.select("source", "doc_id",
                 F.expr(f"cast(size({_SPARK_TOKS}) as bigint)").alias("nt"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = t.withColumn("cum", F.coalesce(F.sum("nt").over(w), F.lit(0)))
    off = F.col("cum") % _PACK_BUDGET
    return c.select(
        "source", "doc_id", "nt",
        F.floor(F.col("cum") / _PACK_BUDGET).cast("bigint").alias("bin_id"),
        off.cast("bigint").alias("offset"),
        F.greatest(F.lit(0), off + F.col("nt") - _PACK_BUDGET)
        .cast("bigint").alias("spill_tokens"))
