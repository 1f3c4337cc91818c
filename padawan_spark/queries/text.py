"""Text-analysis suite over the ``documents`` table — the operators a
large-scale training-data pipeline runs before dedup/filtering:
token statistics, quality scoring, language identification (stopword
heuristic), and document fingerprinting (rolling hash).

All expressions are JVM-side Catalyst higher-order functions
(``transform``/``filter``/``aggregate`` over split arrays) — no Python
UDFs in the hot path, so whole-stage codegen applies and the same plan
scales linearly over a 100 TB corpus (embarrassingly parallel per row,
zero shuffle except final small aggregations).

Cross-engine determinism: tokenization, stopword matching, and the
polynomial rolling hash were verified to produce identical values in
Spark and DuckDB (ascii/md5/sha256/fold parity).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import load, query

# portable token extraction: split on space, drop empties
_SPARK_TOKS = "filter(split(text, ' '), x -> x != '')"
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"

_STOP_EN = "'the','a','of','and','to','is','in','it'"


# ---------------------------------------------------------------------------

@query("text_token_stats", oracle=f"""
SELECT doc_id,
  CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct({_DUCK_TOKS})) AS INTEGER) AS n_distinct,
  CAST(length(text) AS INTEGER) AS n_chars_actual,
  CAST(length(replace(text, ' ', '')) AS DOUBLE)
    / len({_DUCK_TOKS}) AS avg_token_len
FROM documents
""")
def text_token_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    return d.select(
        "doc_id",
        F.expr(f"cast(size({_SPARK_TOKS}) as int)").alias("n_tokens"),
        F.expr(f"cast(size(array_distinct({_SPARK_TOKS})) as int)").alias("n_distinct"),
        F.expr("cast(length(text) as int)").alias("n_chars_actual"),
        F.expr(f"cast(length(replace(text, ' ', '')) as double) / size({_SPARK_TOKS})")
        .alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# Quality score: length saturation + lexical diversity + stopword balance.
# Pure per-row double arithmetic → bit-identical across engines.
# ---------------------------------------------------------------------------

@query("text_quality_score", oracle=f"""
SELECT doc_id, lang, score, CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
FROM (
  SELECT doc_id, lang,
    0.4 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
    + 0.4 * (CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
             / len({_DUCK_TOKS}))
    + 0.2 * least(4.0 * CAST(len(list_filter({_DUCK_TOKS},
          x -> list_contains([{_STOP_EN}], x))) AS DOUBLE)
          / len({_DUCK_TOKS}), 1.0) AS score
  FROM documents
)
""")
def text_quality_score(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    toks = _SPARK_TOKS
    score = (
        f"0.4 * least(cast(length(text) as double) / 400.0, 1.0)"
        f" + 0.4 * (cast(size(array_distinct({toks})) as double) / size({toks}))"
        f" + 0.2 * least(4.0 * cast(size(filter({toks},"
        f" x -> array_contains(array({_STOP_EN}), x))) as double)"
        f" / size({toks}), 1.0)"
    )
    return (d.select("doc_id", "lang", F.expr(score).alias("score"))
            .withColumn("keep", F.expr("case when score >= 0.5 then 1 else 0 end")))


# ---------------------------------------------------------------------------
# Language ID: stopword votes per language, deterministic argmax.
# (The synthetic corpus is English-flavored for every lang label; the
# output is the confusion matrix of heuristic vs label.)
# ---------------------------------------------------------------------------

_LANG_STOPS = {
    "en": "'the','a','of','and','to','is'",
    "es": "'el','la','de','los','y','que'",
    "de": "'der','die','das','und','ist','ein'",
    "fr": "'le','les','une','et','est','dans'",
}


def _votes(engine: str):
    toks = _SPARK_TOKS if engine == "spark" else _DUCK_TOKS
    contains = "array_contains(array({w}), x)" if engine == "spark" \
        else "list_contains([{w}], x)"
    fil = "size(filter({t}, x -> {c}))" if engine == "spark" \
        else "len(list_filter({t}, x -> {c}))"
    return {lang: fil.format(t=toks, c=contains.format(w=w))
            for lang, w in _LANG_STOPS.items()}


def _guess_case(v: dict) -> str:
    # strict argmax with fixed precedence en > es > de > fr, else 'unknown'
    return (f"CASE WHEN {v['en']} > 0 AND {v['en']} >= {v['es']} AND "
            f"{v['en']} >= {v['de']} AND {v['en']} >= {v['fr']} THEN 'en' "
            f"WHEN {v['es']} > 0 AND {v['es']} >= {v['de']} AND "
            f"{v['es']} >= {v['fr']} THEN 'es' "
            f"WHEN {v['de']} > 0 AND {v['de']} >= {v['fr']} THEN 'de' "
            f"WHEN {v['fr']} > 0 THEN 'fr' ELSE 'unknown' END")


@query("text_lang_id", oracle=f"""
SELECT lang, guess, COUNT(*) AS n FROM (
  SELECT lang, {_guess_case(_votes('duck'))} AS guess FROM documents
) GROUP BY lang, guess
""")
def text_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    guess = _guess_case(_votes("spark"))
    return (d.select("lang", F.expr(guess).alias("guess"))
            .groupBy("lang", "guess").agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Fingerprinting: polynomial rolling hash (mod 1e9+7) over characters —
# the primitive under shingle/winnowing fingerprints.  Verified
# bit-identical across engines.
# ---------------------------------------------------------------------------

@query("text_fingerprint", oracle="""
SELECT doc_id,
  list_reduce(list_transform(range(1, length(text) + 1),
      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      (h, c) -> (h * 131 + c) % 1000000007) AS fp,
  list_reduce(list_transform(range(1, least(length(text), 64) + 1),
      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      (h, c) -> (h * 131 + c) % 1000000007) AS fp_prefix
FROM documents
""")
def text_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    roll = ("aggregate(transform(sequence(1, {n}),"
            " i -> ascii(substr(text, i, 1))), 0L,"
            " (h, c) -> (h * 131 + c) % 1000000007)")
    return d.select(
        "doc_id",
        F.expr(roll.format(n="length(text)")).alias("fp"),
        F.expr(roll.format(n="least(length(text), 64)")).alias("fp_prefix"),
    )


# ---------------------------------------------------------------------------
# BPE-ish pre-tokenization: the GPT-2-style splitter approximated with
# an ASCII-only regex (identical semantics in Java regex and RE2):
# contraction suffixes | space?+letter-run | space?+digit-run |
# space?+punct-run. Counting these is the standard pipeline proxy for
# "how many BPE tokens will this doc cost".
# ---------------------------------------------------------------------------

_BPE_RE = "'[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
# the leading contraction branch contains a single quote: escape it per
# engine (doubled '' in DuckDB literals, double-quoted string in Spark SQL)
_BPE_DUCK = _BPE_RE.replace("'", "''")


@query("text_bpe_tokens", oracle=f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_BPE_DUCK}')) AS INTEGER) AS n_bpe,
  CAST(len(list_filter(regexp_extract_all(text, '{_BPE_DUCK}'),
                       t -> regexp_matches(t, '^ ?[0-9]+$'))) AS INTEGER)
    AS n_numeric,
  CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_whitespace
FROM documents
""")
def text_bpe_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    toks = f'regexp_extract_all(text, "{_BPE_RE}", 0)'
    return d.select(
        "doc_id",
        F.expr(f"cast(size({toks}) as int)").alias("n_bpe"),
        F.expr(f"cast(size(filter({toks},"
               " t -> t rlike '^ ?[0-9]+$')) as int)").alias("n_numeric"),
        F.expr(f"cast(size({_SPARK_TOKS}) as int)").alias("n_whitespace"),
    )


# ---------------------------------------------------------------------------
# Corpus word count — explode tokens, global frequency, top 20.
# The shuffle is on the token (high cardinality, well distributed);
# partial aggregation collapses each partition's counts first.
# ---------------------------------------------------------------------------

@query("text_wordcount", oracle=f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
FROM (SELECT unnest({_DUCK_TOKS}) AS token FROM documents)
GROUP BY token ORDER BY freq DESC, token LIMIT 20
""")
def text_wordcount(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    return (d.select(F.explode(F.expr(_SPARK_TOKS)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
            .orderBy(F.desc("freq"), "token")
            .limit(20))


@query("text_tfidf", oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term,
         ROUND(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, rn FROM (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rn
  FROM scored) WHERE rn <= 3
""")
def text_tfidf(spark, sf_dir):
    """TF-IDF keyword extraction: term frequency per doc x inverse
    document frequency, top-3 terms per document.  The corpus-wide df
    table is tiny (vocabulary-sized) and broadcast to the tf side, so
    the only full shuffle is the per-doc tf aggregation — the shape
    that holds when the corpus is 100 TB but the vocabulary is
    millions.  ln() is transcendental, so the score is rounded to 6
    decimals BEFORE ranking (determinism policy: libm results may
    differ 1 ulp across engines); the row_number tie-break is
    (rounded score, term) — total and engine-stable."""
    from pyspark.sql.window import Window
    d = load(spark, sf_dir, "documents", wide=True)
    toks = d.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("term"))
    # pinned: the df reference sits under a broadcast exchange, so AQE
    # exchange reuse would not stop the corpus being tokenized twice
    tf = (toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=True))
    # df DERIVED from tf: tf already holds one row
    # per distinct (doc, term), so COUNT(DISTINCT doc_id) per term over
    # the raw tokens == COUNT(*) per term over tf — same integers, but
    # the corpus is exploded/scanned ONCE and the df aggregation shuffles
    # the (doc, term)-collapsed table instead of every raw token (the
    # distinct aggregation's double shuffle is gone too).
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "term",
                      F.round(F.col("tf")
                              * F.log(F.col("n").cast("double") / F.col("df")),
                              6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3))


_BM25_TERMS = ("table", "join", "filter")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# per-doc BM25 scores as a reusable subquery (text_bm25_topk ranks it;
# sim_hybrid_rrf fuses it with the vector side)
_BM25_DUCK_SCORES = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY 1),
corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
       WHERE term IN ({_BM25_IN}) GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM toks
       WHERE term IN ({_BM25_IN}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (n - df + 0.5) / (df + 0.5))
         * tf * ({_BM25_K1} + 1.0)
         / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                               + {_BM25_B} * dl.dl / avgdl)) AS s
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus)
SELECT doc_id, ROUND(SUM(s), 6) AS bm25
FROM scored GROUP BY doc_id
"""


def _bm25_spark(spark, sf_dir):
    """Per-doc BM25 scores (rounded to 6 before any ranking) — the
    Spark twin of ``_BM25_DUCK_SCORES``."""
    d = load(spark, sf_dir, "documents", wide=True)
    toks = d.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("term"))
    # dl WITHOUT an explode: the per-doc token count is
    # just size() of the token array — a narrow projection inside
    # whole-stage codegen, zero shuffle (an explode would scan the whole
    # corpus a second time and aggregate it back to the same number).
    # size > 0 keeps the row set identical to the explode+groupBy (docs
    # with no tokens never reached dl).  avg over integer-valued doubles
    # is exact (< 2^53), so corpus stats are bit-identical.
    dl = (d.select("doc_id",
                   F.size(F.expr(_SPARK_TOKS)).cast("double").alias("dl"))
          .where(F.col("dl") > 0))
    corpus = dl.agg(F.count(F.lit(1)).cast("double").alias("n"),
                    F.avg("dl").alias("avgdl"))
    qt = toks.where(F.col("term").isin(*_BM25_TERMS))
    tf = (qt.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    # df DERIVED from tf (same integers: tf is one row per distinct
    # (doc, term) pair) — no third pass over the tokens.
    df = (tf.groupBy("term")
          .agg(F.count(F.lit(1)).cast("double").alias("df")))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(df), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(corpus))
              .select("doc_id",
                      (idf * F.col("tf") * (k1 + 1.0) / norm).alias("s")))
    return (scored.groupBy("doc_id")
            .agg(F.round(F.sum("s"), 6).alias("bm25")))


@query("text_bm25_topk", oracle=f"""
SELECT doc_id, bm25 FROM ({_BM25_DUCK_SCORES})
ORDER BY bm25 DESC, doc_id LIMIT 15
""")
def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval scoring (Robertson/Okapi, the Lucene idf form):
    top-15 documents for a fixed query term set — the lexical-retrieval
    primitive a training-data pipeline uses for decontamination lookups
    and quality-by-query probes.  Scale shape: the token explode is
    filtered to the query terms BEFORE the tf aggregation (predicate
    pushdown into the scan side), df and the corpus stats are
    query-sized/1-row broadcasts, and the only full-width work is the
    per-doc length aggregation — at 100 TB that doc-length table is a
    one-off corpus statistic you materialize once and reuse across
    queries.  ln() rounded to 6 decimals before ranking (same libm
    determinism policy as text_tfidf); ties break on doc_id."""
    return (_bm25_spark(spark, sf_dir)
            .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(15))


@query("text_pii_scrub", oracle=r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                   '@example.com or call 555-' || CAST(doc_id * 7 AS VARCHAR),
      '[A-Za-z0-9_.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
    '555-[0-9]+', '<PHONE>', 'g') AS scrubbed
FROM documents
""")
def text_pii_scrub(spark, sf_dir):
    """PII redaction — the compliance pass every training corpus goes
    through before the tokenizer: emails and phone-shaped spans are
    rewritten to placeholder tags with chained regexp_replace.  The
    testdata has no PII, so deterministic synthetic contact strings are
    appended first and then scrubbed (proving the patterns fire on
    every row).  Patterns stick to character classes shared by Java
    regex and RE2 — no lookarounds — so both engines rewrite
    identically; at scale this is pure narrow projection work inside
    whole-stage codegen, no shuffle at all."""
    d = load(spark, sf_dir, "documents", wide=True)
    dirty = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or call 555-"),
        (F.col("doc_id") * 7).cast("string"))
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(dirty, "[A-Za-z0-9_.]+@[A-Za-z0-9.]+",
                             "<EMAIL>"),
            "555-[0-9]+", "<PHONE>").alias("scrubbed"))


@query("text_pseudonymize", oracle="""
SELECT DISTINCT user_id,
       sha256('corpus-salt-v1:' || CAST(user_id AS VARCHAR)) AS pseudo_id
FROM events
""")
def text_pseudonymize(spark, sf_dir):
    """Key pseudonymization: stable salted-hash surrogate ids so user
    identity can be dropped from a training corpus while preserving
    joinability and per-user grouping.  The same salt+key always maps
    to the same pseudo id on any engine and any partitioning (sha256 is
    bit-exact), and the mapping is irreversible without the salt.  At
    scale this is a narrow projection + one distinct shuffle on the
    already-compact key set."""
    e = load(spark, sf_dir, "events")
    return (e.select(
        "user_id",
        F.sha2(F.concat(F.lit("corpus-salt-v1:"),
                        F.col("user_id").cast("string")), 256)
        .alias("pseudo_id"))
        .distinct())


@query("pipe_corpus_curation", oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
    0.4 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
    + 0.4 * (CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
             / len({_DUCK_TOKS}))
    + 0.2 * least(4.0 * CAST(len(list_filter({_DUCK_TOKS},
          x -> list_contains([{_STOP_EN}], x))) AS DOUBLE)
          / len({_DUCK_TOKS}), 1.0) AS score
  FROM documents),
kept AS (SELECT * FROM scored WHERE score >= 0.4 AND lang IN ('en', 'de')),
canon AS (
  SELECT * FROM (
    SELECT doc_id, lang, source, score,
           ROW_NUMBER() OVER (PARTITION BY sha256(text)
                              ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1),
sampled AS (
  SELECT * FROM canon
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 100 < 80)
SELECT lang, source, COUNT(*) AS n_docs,
       ROUND(SUM(score), 6) AS total_score
FROM sampled GROUP BY lang, source
""")
def pipe_corpus_curation(spark, sf_dir):
    """End-to-end corpus curation in ONE DataFrame job — the pipeline a
    training-data engineer actually ships, composed from this repo's
    operators: quality scoring (per-row arithmetic), language filter,
    exact near-dup removal keeping the lowest doc_id per sha256
    (window, not self-join), and a reproducible 80% hash sample, ending
    in per-(lang, source) corpus stats.  The whole thing is one scan +
    one window shuffle on the digest + one final aggregation: filters
    and scoring fuse into the scan stage, the hash-sample is a pure
    row-local predicate, and nothing touches the driver.  score is a
    bounded sum of exact ratios (same formula as text_quality_score) so
    the rounded total matches DuckDB bit-for-bit."""
    from pyspark.sql.window import Window
    d = load(spark, sf_dir, "documents", wide=True)
    toks = _SPARK_TOKS
    score = (
        f"0.4 * least(cast(length(text) as double) / 400.0, 1.0)"
        f" + 0.4 * (cast(size(array_distinct({toks})) as double) / size({toks}))"
        f" + 0.2 * least(4.0 * cast(size(filter({toks},"
        f" x -> array_contains(array({_STOP_EN}), x))) as double)"
        f" / size({toks}), 1.0)"
    )
    kept = (d.select("doc_id", "lang", "source", "text",
                     F.expr(score).alias("score"))
            .where((F.col("score") >= 0.4) & F.col("lang").isin("en", "de")))
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    canon = (kept.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                     16, 10).cast("bigint") % 100)
    sampled = canon.where(bucket < 80)
    return (sampled.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum("score"), 6).alias("total_score")))


@query("text_ngram_freq", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
bi AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t)
SELECT bigram, COUNT(*) AS freq FROM bi
GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20
""")
def text_ngram_freq(spark, sf_dir):
    """Corpus bigram frequencies — the n-gram statistic under language
    models, collocation mining, and contamination checks.  Bigrams are
    built inside codegen with a transform over an index sequence (no
    Python), exploded, and counted; the top-20 uses the (freq, bigram)
    total order so the limit is engine-stable, executed as per-partition
    top-k + driver merge, never a global sort of the bigram table."""
    d = load(spark, sf_dir, "documents", wide=True)
    bigrams = F.expr(
        f"transform(sequence(1, size({_SPARK_TOKS}) - 1),"
        f" i -> concat(element_at({_SPARK_TOKS}, i), ' ',"
        f" element_at({_SPARK_TOKS}, i + 1)))")
    return (d.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), "bigram")
            .limit(20))


@query("text_winnowing", oracle=f"""
WITH sh AS (
  SELECT doc_id, list_transform(range(1, len(t) - 1),
           i -> CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' '
                || t[i+2]), 1, 8)) AS BIGINT)) AS h
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)),
win AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(h) - 2),
           i -> list_min(h[i : i + 3]))) AS fps
  FROM sh WHERE len(h) >= 4)
SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
       list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM win
""")
def text_winnowing(spark, sf_dir):
    """Winnowing fingerprints (the MOSS algorithm): hash every word
    3-shingle, slide a window of 4 hashes, keep each window's minimum —
    guaranteeing any shared substring of threshold length contributes a
    common fingerprint, with far fewer fingerprints than all-shingles.
    Shingle hashes come from md5 prefixes (engine-identical, same trick
    as the MinHash family) and the whole pipeline is per-row
    higher-order array code inside codegen — zero shuffle until the
    fingerprint table is joined downstream for overlap detection."""
    d = load(spark, sf_dir, "documents", wide=True)
    # materialize h and fps ONCE per row (the naive form repeats the
    # md5-array expression textually — recomputed per reference unless
    # runtime subexpression elimination happens to rescue it)
    h = ("transform(sequence(1, size(t) - 2),"
         " i -> cast(conv(substr(md5(concat_ws(' ',"
         " element_at(t, i), element_at(t, i + 1),"
         " element_at(t, i + 2))), 1, 8), 16, 10) as bigint))")
    fps = ("array_distinct(transform(sequence(1, size(h) - 3),"
           " i -> array_min(slice(h, i, 4))))")
    step1 = (d.select("doc_id", F.expr(_SPARK_TOKS).alias("t"))
             .select("doc_id", F.expr(h).alias("h"))
             .where(F.expr("size(h) >= 4"))
             .select("doc_id", F.expr(fps).alias("fps")))
    return step1.select(
        "doc_id",
        F.expr("cast(size(fps) as bigint)").alias("n_fps"),
        F.expr("cast(array_min(fps) as bigint)").alias("min_fp"),
        F.expr("cast(array_max(fps) as bigint)").alias("max_fp"))


@query("text_repetition_metrics", oracle=f"""
SELECT doc_id, dup_word_frac, dup_shingle_frac, top_bigram_frac,
       n_adjacent_repeats,
       CASE WHEN top_bigram_frac >= 0.18 OR n_adjacent_repeats >= 8
            THEN 0 ELSE 1 END AS keep
FROM (
  SELECT doc_id,
    CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_word_frac,
    CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
      / greatest(len(sh), 1) AS dup_shingle_frac,
    CAST(list_max(list_transform(list_distinct(bi),
         x -> len(list_filter(bi, y -> y = x)))) AS DOUBLE)
      / greatest(len(bi), 1) AS top_bigram_frac,
    CAST(len(list_filter(range(2, len(t) + 1), i -> t[i] = t[i-1]))
         AS BIGINT) AS n_adjacent_repeats
  FROM (
    SELECT doc_id, t,
      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bi,
      list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh
    FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)))
""")
def text_repetition_metrics(spark, sf_dir):
    """Repetition filters — the Gopher-style quality signals that catch
    degenerate/boilerplate documents before training: duplicate-token
    fraction, duplicate-3-shingle fraction, the most frequent bigram's
    share of all bigrams, and the count of immediate token repeats; a
    keep flag gates on the spammy extremes.  (The published metrics are
    line-based; this corpus is single-line, so the same statistics are
    computed at token granularity.)  All four are per-row integer
    counting inside codegen higher-order functions with ONE double
    division each — engine-exact, zero shuffle, linear over 100 TB."""
    d = load(spark, sf_dir, "documents", wide=True)
    t = _SPARK_TOKS
    stage = d.select(
        "doc_id", F.expr(t).alias("t"),
        F.expr(f"transform(sequence(1, size({t}) - 1),"
               f" i -> concat(element_at({t}, i), ' ',"
               f" element_at({t}, i + 1)))").alias("bi"),
        F.expr(f"transform(sequence(1, size({t}) - 2),"
               f" i -> concat_ws(' ', element_at({t}, i),"
               f" element_at({t}, i + 1), element_at({t}, i + 2)))").alias("sh"))
    m = stage.select(
        "doc_id",
        F.expr("cast(size(t) - size(array_distinct(t)) as double) / size(t)")
        .alias("dup_word_frac"),
        F.expr("cast(size(sh) - size(array_distinct(sh)) as double)"
               " / greatest(size(sh), 1)").alias("dup_shingle_frac"),
        F.expr("cast(array_max(transform(array_distinct(bi),"
               " x -> size(filter(bi, y -> y = x)))) as double)"
               " / greatest(size(bi), 1)").alias("top_bigram_frac"),
        F.expr("cast(size(filter(sequence(2, size(t)),"
               " i -> element_at(t, i) = element_at(t, i - 1))) as bigint)")
        .alias("n_adjacent_repeats"))
    return m.withColumn(
        "keep", F.expr("case when top_bigram_frac >= 0.18"
                       " or n_adjacent_repeats >= 8 then 0 else 1 end"))


@query("text_bigram_logprob", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
uni AS (
  SELECT unnest(toks) AS w FROM t),
unic AS (SELECT w, COUNT(*) AS cw FROM uni GROUP BY w),
nuni AS (SELECT SUM(cw) AS total, COUNT(*) AS vocab FROM unic),
bi AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t),
bic AS (SELECT bg, COUNT(*) AS cbg FROM bi GROUP BY bg),
scored AS (
  SELECT bi.doc_id,
    ln((COALESCE(bic.cbg, 0) + 1.0)
       / (unic.cw + nuni.vocab)) AS lp
  FROM bi
  JOIN unic ON string_split(bi.bg, ' ')[1] = unic.w
  CROSS JOIN nuni
  LEFT JOIN bic ON bi.bg = bic.bg)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(lp AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
         AS avg_logprob
FROM scored GROUP BY doc_id
""")
def text_bigram_logprob(spark, sf_dir):
    """Per-document language-model scoring — the KenLM-style quality
    filter: a bigram model with add-one smoothing is trained on the
    corpus itself (bigram + unigram count tables), then every document
    is scored by its average bigram log-probability
    ln((c(w1 w2)+1)/(c(w1)+V)).  The count tables are vocabulary-sized
    → broadcast to the scoring scan, so the whole pass is train(2
    aggregations) + score(1 scan with broadcast joins) however large
    the corpus.  Determinism: each ln() is one libm call on an exact
    rational (identical across engines for identical inputs), summed
    through exact DECIMAL and rounded once at the end."""
    d = load(spark, sf_dir, "documents", wide=True)
    t = d.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
    uni = t.select(F.explode("toks").alias("w"))
    unic = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    nuni = unic.agg(F.sum("cw").alias("total"),
                    F.count(F.lit(1)).alias("vocab"))
    bi = t.select("doc_id", F.explode(F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ',"
        " element_at(toks, i + 1)))")).alias("bg"))
    bic = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    scored = (bi
              .join(F.broadcast(unic), w1 == F.col("w"))
              .crossJoin(F.broadcast(nuni))
              .join(F.broadcast(bic), "bg", "left")
              .select("doc_id",
                      F.log((F.coalesce(F.col("cbg"), F.lit(0)) + 1.0)
                            / (F.col("cw") + F.col("vocab"))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(F.col("lp").cast("decimal(38,12)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_logprob")))


# ---------------------------------------------------------------------------
# collocation mining: document co-occurrence lift over the top-K
# vocabulary — the PMI-style corpus statistic behind phrase detection
# and topic seeding (log-free: lift = N·C(a,b) / (C(a)·C(b)), so the
# value is one exact ratio instead of an engine-varying transcendental).
# ---------------------------------------------------------------------------

_COOC_VOCAB = 24     # top-K words by document frequency


@query("text_cooccurrence", oracle=f"""
WITH words AS (
  SELECT DISTINCT doc_id, x AS word
  FROM documents, unnest({_DUCK_TOKS}) AS u(x)),
vocab AS (
  SELECT word, COUNT(*) AS dfreq FROM words GROUP BY word
  ORDER BY dfreq DESC, word LIMIT {_COOC_VOCAB}),
vw AS (SELECT w.doc_id, w.word FROM words w JOIN vocab v ON w.word = v.word),
pairs AS (
  SELECT a.word AS word_a, b.word AS word_b, COUNT(*) AS co_docs
  FROM vw a JOIN vw b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY a.word, b.word),
n AS (SELECT COUNT(*) AS nd FROM documents)
SELECT word_a, word_b, co_docs,
       ROUND(CAST(nd * co_docs AS DOUBLE) / (va.dfreq * vb.dfreq), 9) AS lift
FROM pairs
JOIN vocab va ON word_a = va.word
JOIN vocab vb ON word_b = vb.word
CROSS JOIN n
""")
def text_cooccurrence(spark, sf_dir):
    """Pairwise document co-occurrence of the top-K vocabulary with
    independence lift — collocation mining without transcendentals
    (lift > 1 ⇔ positive PMI; monotone in it, exactly computable).

    Scale shape: the vocabulary is a top-K aggregate (24 rows) and is
    BROADCAST into the corpus word table, so the per-document pair
    join fans out at most K² per doc — bounded by construction, the
    same df-capping discipline as the dedup verify join.  One distinct
    (doc, word) shuffle, one K-bounded self-join keyed on doc_id, one
    pair aggregation.  Counts are integers; lift is a single division
    rounded for the hash gate."""
    d = load(spark, sf_dir, "documents", wide=True)
    # pinned: words feeds the broadcast top-K vocabulary and the join
    # it filters, and vw both sides of the self-join; exchange reuse does
    # not reach under the broadcast, so each unpinned table runs twice
    words = (d.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("word"))
             .distinct().localCheckpoint(eager=True))
    vocab = (words.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
             .orderBy(F.desc("dfreq"), "word").limit(_COOC_VOCAB))
    vw = (words.join(F.broadcast(vocab.select("word")), "word")
          .localCheckpoint(eager=True))
    a, b = vw.alias("a"), vw.alias("b")
    pairs = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("a.word") < F.col("b.word")))
             .groupBy(F.col("a.word").alias("word_a"),
                      F.col("b.word").alias("word_b"))
             .agg(F.count(F.lit(1)).alias("co_docs")))
    nd = d.count()   # bounded driver scalar (blocking-stats policy)
    va = vocab.select(F.col("word").alias("word_a"),
                      F.col("dfreq").alias("dfa"))
    vb = vocab.select(F.col("word").alias("word_b"),
                      F.col("dfreq").alias("dfb"))
    return (pairs.join(F.broadcast(va), "word_a")
            .join(F.broadcast(vb), "word_b")
            .select("word_a", "word_b", "co_docs",
                    F.round((F.lit(nd) * F.col("co_docs")).cast("double")
                            / (F.col("dfa") * F.col("dfb")), 9)
                    .alias("lift")))


# ---------------------------------------------------------------------------
# character-entropy gibberish filter: Shannon entropy of each document's
# character distribution.  Natural text sits in a narrow entropy band;
# random bytes score high, repeated-character spam scores low — the
# cheap first-line quality gate of web-corpus curation.
# ---------------------------------------------------------------------------

_ENT_LO, _ENT_HI = 3.0, 5.2     # plausible-text band (bits per char)


@query("text_char_entropy", oracle=f"""
WITH ch AS (
  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
  FROM documents),
cnt AS (
  SELECT doc_id, substr(text, i, 1) AS c, COUNT(*) AS k
  FROM ch GROUP BY doc_id, substr(text, i, 1)),
tot AS (SELECT doc_id, CAST(SUM(k) AS DOUBLE) AS L,
               COUNT(*) AS n_distinct FROM cnt GROUP BY doc_id),
ent AS (
  SELECT cnt.doc_id, tot.n_distinct,
    ROUND(CAST(SUM(CAST(-(k / L) * log2(k / L) AS DECIMAL(38,12)))
               AS DOUBLE), 6) + 0.0 AS entropy_bits
  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
  GROUP BY cnt.doc_id, tot.n_distinct)
SELECT doc_id, CAST(n_distinct AS BIGINT) AS n_distinct_chars, entropy_bits,
       CASE WHEN entropy_bits >= {_ENT_LO} AND entropy_bits <= {_ENT_HI}
            THEN 1 ELSE 0 END AS plausible_text
FROM ent
""")
def text_char_entropy(spark, sf_dir):
    """Per-document Shannon character entropy (bits/char) with a
    plausible-text band flag — low entropy catches repeated-character
    spam, high entropy catches random/binary junk.

    Plan: one scan explodes to (doc, char) and aggregates twice —
    (doc, char) counts then a doc-keyed entropy fold; both shuffles key
    on doc_id so Catalyst reuses the exchange.  Linear in corpus bytes,
    no UDF, no join fan-out.  Determinism: each -(p·log2 p) term is one
    libm call on an exact rational, summed through DECIMAL and rounded
    once (text_bigram_logprob policy); -0.0 canonicalized."""
    d = load(spark, sf_dir, "documents", wide=True)
    ch = d.select("doc_id", F.posexplode(F.split("text", "")).alias("i", "c"))
    # cnt feeds both the per-doc totals and the entropy fold but is
    # NOT checkpointed: both references share cnt's identical
    # (doc_id, c) Exchange, which AQE reuses at runtime — the explode
    # computes once either way, and skipping the eager pin removes a
    # serial barrier (measured 12.0 vs 10.9 task-sec, wall 1.4 vs 2.6).
    cnt = (ch.where(F.col("c") != "")
           .groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k")))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("k").cast("double").alias("L"),
        F.count(F.lit(1)).alias("n_distinct"))
    p = F.col("k") / F.col("L")
    ent = (cnt.join(tot, "doc_id")
           .groupBy("doc_id", "n_distinct")
           .agg((F.round(F.sum((-p * F.log2(p)).cast("decimal(38,12)"))
                         .cast("double"), 6) + F.lit(0.0))
                .alias("entropy_bits")))
    return ent.select(
        "doc_id",
        F.col("n_distinct").cast("bigint").alias("n_distinct_chars"),
        "entropy_bits",
        F.when((F.col("entropy_bits") >= _ENT_LO)
               & (F.col("entropy_bits") <= _ENT_HI), 1).otherwise(0)
        .alias("plausible_text"))


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING: learn merge rules from the corpus — the
# step upstream of every token-counting operator.  Each round counts
# adjacent symbol pairs over the word-frequency table and merges the
# argmax (count desc, then lexicographic) everywhere.  Merge
# application uses a double-space encoding so plain string REPLACE is
# EXACTLY the greedy left-to-right non-overlapping BPE merge (each
# token boundary carries two spaces; a match consumes one from each
# side, leaving one for the adjacent match), which both engines
# implement identically — that is what makes an iterative trainer
# fully value-oracled in SQL.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    w = r"""
w0 AS (
  SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents)
  WHERE length(word) BETWEEN 2 AND 12
  GROUP BY 1
)"""
    ctes = [w]
    for k in range(1, _BPE_ROUNDS + 1):
        ctes.append(f"""
p{k} AS (
  SELECT p['l'] AS l, p['r'] AS r, SUM(freq) AS cnt
  FROM (SELECT freq,
               unnest(list_transform(range(1, len(string_split(seq, ' '))),
                      i -> {{'l': string_split(seq, ' ')[i],
                            'r': string_split(seq, ' ')[i + 1]}})) AS p
        FROM w{k - 1})
  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
)""")
        if k < _BPE_ROUNDS:
            ctes.append(f"""
w{k} AS (
  SELECT trim(regexp_replace(replace(
           ' ' || replace(seq, ' ', '  ') || ' ',
           ' ' || (SELECT l FROM p{k}) || '  '
               || (SELECT r FROM p{k}) || ' ',
           ' ' || (SELECT l FROM p{k})
               || (SELECT r FROM p{k}) || ' '),
         ' +', ' ', 'g')) AS seq, freq
  FROM w{k - 1}
)""")
    sel = " UNION ALL ".join(
        f"SELECT {k} AS round, l || r AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count "
        f"FROM p{k}" for k in range(1, _BPE_ROUNDS + 1))
    return "WITH " + ",".join(ctes) + " " + sel


@query("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark, sf_dir):
    """Train {n} BPE merges on the documents corpus and emit each
    round's learned merge with its pair count.  Plan shape per round:
    one JVM-side pair-explode + groupBy over the DISTINCT-WORD
    frequency table (classic BPE trains on word shapes, so the
    iteration cost is O(vocabulary), not O(corpus) — the corpus is
    touched once to build the table), a 1-row argmax collect (the
    merge rule itself — O(1) driver data), and a string-level merge
    application kept inside whole-stage codegen.  The word table is
    localCheckpointed per round so the lazy plan stays flat across
    iterations, same as the k-means/PageRank loops.  At 100 TB the
    word-frequency table is the classic skew-safe reduction: words
    hash-shuffle once, everything after is vocabulary-sized."""
    from pyspark.sql import functions as SF
    d = load(spark, sf_dir, "documents", wide=True)
    words = (d.select(SF.explode(
        SF.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .alias("word"))
        .where("length(word) BETWEEN 2 AND 12")
        .groupBy("word").agg(SF.count(SF.lit(1)).alias("freq"))
        .select(SF.expr("trim(regexp_replace(word, '(.)', '$1 '))")
                .alias("seq"), "freq"))
    words = words.localCheckpoint(eager=True)
    out = []
    for k in range(1, _BPE_ROUNDS + 1):
        arr = "split(seq, ' ')"
        pairs = words.select("freq", SF.explode(SF.expr(
            f"transform(sequence(1, size({arr}) - 1), "
            f"i -> struct(element_at({arr}, i) AS l, "
            f"element_at({arr}, i + 1) AS r))")).alias("p"))
        best = (pairs.groupBy("p.l", "p.r")
                .agg(SF.sum("freq").alias("cnt"))
                .orderBy(SF.desc("cnt"), "l", "r").limit(1).collect()[0])
        out.append((k, best["l"] + best["r"], best["cnt"]))
        if k < _BPE_ROUNDS:
            pat = f" {best['l']}  {best['r']} "
            rep = f" {best['l']}{best['r']} "
            words = words.select(SF.expr(
                "trim(regexp_replace(replace("
                "concat(' ', replace(seq, ' ', '  '), ' '), "
                f"'{pat}', '{rep}'), ' +', ' '))").alias("seq"), "freq")
            words = words.localCheckpoint(eager=True)
    return spark.createDataFrame(
        out, "round int, merged string, pair_count bigint")


text_bpe_train.__doc__ = text_bpe_train.__doc__.format(n=_BPE_ROUNDS)


@query("text_unicode_nfc", oracle="""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN 'e' || chr(769)
                      WHEN doc_id % 3 = 1 THEN chr(65533)
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       t = nfc_normalize(t) AS is_nfc,
       CAST(length(nfc_normalize(t)) AS BIGINT) AS nfc_len,
       CAST(length(t) - length(replace(t, chr(65533), '')) AS BIGINT)
         AS n_replacement
FROM aug
""")
def text_unicode_nfc(spark, sf_dir):
    """Unicode hygiene for a crawled corpus: NFC-normalization
    check and replacement-character (U+FFFD, the decoder's "something
    was already broken" marker) census.  A third of the docs get a
    combining-acute suffix (non-NFC composed form), a third a U+FFFD —
    the scan must flag exactly those.  Spark has no built-in Unicode
    normalizer, so this is a real Arrow-batched python pass
    (unicodedata.normalize per blob of text); the oracle mirrors it
    with DuckDB's nfc_normalize.  At 100 TB this is the same
    embarrassingly parallel mapInPandas shape as the codec passes —
    normalization happens once, up front, so every downstream dedup
    hash and tokenizer sees canonical bytes."""
    import pandas as pd
    d = load(spark, sf_dir, "documents", wide=True).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("e\u0301"))
             .when(F.col("doc_id") % 3 == 1, F.lit("\ufffd"))
             .otherwise(F.lit(""))).alias("t"))

    def batches(it):
        import unicodedata
        for pdf in it:
            nfc = pdf["t"].map(lambda s: unicodedata.normalize("NFC", s))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "is_nfc": pdf["t"] == nfc,
                "nfc_len": nfc.str.len().astype("int64"),
                "n_replacement": pdf["t"].str.count("\ufffd")
                .astype("int64"),
            })

    return d.mapInPandas(batches, "doc_id bigint, is_nfc boolean, "
                                  "nfc_len bigint, n_replacement bigint")


# ordered merge ranks for the APPLY query (GPT-2-style rank list,
# applied sequentially; crafted from frequent English pairs)
_BPE_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
               ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
               ("in", "g"), ("o", "r")]


def _bpe_apply_sql_chain(var: str) -> str:
    """The same sequential merge fold the Spark side applies, as a
    nested DuckDB expression over a space-delimited symbol string."""
    seq = f"trim(regexp_replace({var}, '(.)', '\\1 ', 'g'))"
    for l_, r_ in _BPE_MERGES:
        padded = f"concat(' ', replace({seq}, ' ', '  '), ' ')"
        merged = f"replace({padded}, ' {l_}  {r_} ', ' {l_}{r_} ')"
        seq = f"trim(regexp_replace({merged}, ' +', ' ', 'g'))"
    return seq


@query("text_bpe_apply", oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
), tok AS (
  SELECT doc_id, w,
         len(string_split({_bpe_apply_sql_chain('w')}, ' ')) AS n_tok
  FROM words
)
SELECT doc_id, COUNT(*) AS n_words,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars
FROM tok GROUP BY doc_id
""")
def text_bpe_apply(spark, sf_dir):
    """BPE tokenizer APPLICATION — the other half of
    text_bpe_train: a 10-rule ordered merge list tokenizes the corpus
    and emits per-document token counts.  Scale shape is the one real
    tokenizers use on a corpus: tokenize each DISTINCT word once (the
    merge fold runs over the vocabulary, O(vocab) work, entirely
    inside whole-stage codegen as replace/regexp expressions), then
    broadcast-join the word->token_count map back onto the
    per-document word stream — the corpus is never re-tokenized per
    occurrence.  The oracle replays the identical sequential-rank
    fold in SQL, so a boundary bug in the token-delimiter algebra
    (the doubled-space trick) diverges immediately.  n_chars pins the
    word extraction itself."""
    from pyspark.sql import functions as SF
    d = load(spark, sf_dir, "documents", wide=True)
    words = d.select(
        "doc_id",
        SF.explode(SF.expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .alias("w"))
    vocab = words.select("w").distinct()
    seq = "trim(regexp_replace(w, '(.)', '$1 '))"
    for l_, r_ in _BPE_MERGES:
        padded = f"concat(' ', replace({seq}, ' ', '  '), ' ')"
        merged = f"replace({padded}, ' {l_}  {r_} ', ' {l_}{r_} ')"
        seq = f"trim(regexp_replace({merged}, ' +', ' '))"
    tok_map = vocab.select(
        "w", SF.expr(f"size(split({seq}, ' '))").alias("n_tok"))
    return (words.join(SF.broadcast(tok_map), on="w")
            .groupBy("doc_id")
            .agg(SF.count(SF.lit(1)).alias("n_words"),
                 SF.sum("n_tok").cast("bigint").alias("n_tokens"),
                 SF.sum(SF.length("w")).cast("bigint")
                 .alias("n_chars")))


@query("text_bigram_lm_score", oracle="""
WITH toks AS (
  SELECT doc_id, tok, ord FROM (
    SELECT doc_id,
           UNNEST(string_split(text, ' ')) AS tok,
           GENERATE_SUBSCRIPTS(string_split(text, ' '), 1) AS ord
    FROM documents)
  WHERE tok <> ''),
bi AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
c1 AS (SELECT w1, COUNT(*) AS c FROM bi GROUP BY w1),
c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2),
v AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
scored AS (
  SELECT bi.doc_id,
         AVG(LN((c2.c + 0.5) / (c1.c + 0.5 * v.v))) AS ll
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY bi.doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN ll < -4.5 THEN 1 END) AS BIGINT)
           AS n_flagged,
       CAST(MIN(CASE WHEN ll < -4.5 THEN doc_id END) AS BIGINT)
           AS first_flagged
FROM scored
""")
def text_bigram_lm_score(spark, sf_dir):
    """Bigram language-model QUALITY scoring — the
    perplexity-filter pass a training pipeline runs to drop
    incoherent documents: an add-k-smoothed bigram LM is fit on the
    corpus itself (``P(w2|w1) = (c(w1,w2)+0.5) / (c(w1)+0.5·V)``),
    each document scores as its mean bigram log-probability, and
    documents below the threshold are flagged (KenLM-style filtering
    without the native dependency).  Output is integer-only (counts
    + first flagged id) so float association order cannot drift the
    hash.  Scale shape: token explode → two count aggregations
    (bigram and unigram, hash-shuffled on the gram) → the scoring
    JOINS the counts back onto the bigram stream and partial-aggs
    per doc — no broadcast of the full model needed (the joins are
    gram-keyed and AQE picks broadcast only if the vocabulary is
    small), no Python in the row path."""
    d = load(spark, sf_dir, "documents")
    toks = (d.select("doc_id",
                     F.posexplode(F.split(F.col("text"), " "))
                     .alias("ord", "tok"))
            .where(F.col("tok") != ""))
    bi = (toks.alias("a")
          .join(toks.alias("b"),
                (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("b.ord") == F.col("a.ord") + 1))
          .select(F.col("a.doc_id").alias("doc_id"),
                  F.col("a.tok").alias("w1"),
                  F.col("b.tok").alias("w2")))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = (bi.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("c2")))
    v = toks.select("tok").distinct().count()
    scored = (bi.join(c2, on=["w1", "w2"]).join(c1, on="w1")
              .groupBy("doc_id")
              .agg(F.avg(F.log((F.col("c2") + F.lit(0.5))
                               / (F.col("c1")
                                  + F.lit(0.5 * v))))
                   .alias("ll")))
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("ll") < -4.5, 1)).cast("bigint")
        .alias("n_flagged"),
        F.min(F.when(F.col("ll") < -4.5, F.col("doc_id")))
        .cast("bigint").alias("first_flagged"))
