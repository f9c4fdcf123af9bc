"""Text-pipeline queries over `documents` (SURVEY.md §2.4/§2.6 F1-F2
N-ops + the text-analysis extensions): tokenization, PII scrub, quality
scoring, language-ID, fingerprinting, n-grams.

Every query here is shuffle-light: the text functions are map-side
expressions; only the final aggregations shuffle. The DuckDB oracles
mirror the exact same token/regex semantics (patterns are kept
RE2-and-Java-regex compatible, see functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.text import (
    EMAIL_RE,
    IPV4_RE,
    MD5_RE,
    URL_RE,
    UUID_RE,
    pii_scrub,
    tokenize,
)
from ml_data_wrangler_spark.functions.textstats import (
    LANG_STOPWORDS,
    SUBWORD_PATTERN,
    detect_language,
    doc_fingerprint,
    max_multiplicity,
    quality_score,
    subword_count,
    token_count,
)
from ml_data_wrangler_spark.operators._partition import ensure_parallelism
from ml_data_wrangler_spark.plans._util import t
from ml_data_wrangler_spark.plans.registry import query

# DuckDB fragment mirroring functions.text.tokenize().
SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"


@query(
    "qt01_top_tokens",
    oracle=f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
""",
)
def qt01(spark, sf_dir):
    """Corpus-wide top-20 token counts (the flagship text query:
    tokenize → explode → count → top-k). The raw text is
    repartitioned before the tokenize map ONLY when the under-split
    scan is also big enough for the serial stage to matter (trap #1 /
    round 12, bytes-conditioned in round 13): the interleaved A/B at
    sf0.1 measured 0.755 s median WITH the unconditional repartition
    vs 0.478 s without — the whole serial tokenize is ~0.3 s there,
    under the repartition's own shuffle cost — while a big
    unsplittable input still gets the parallel map. No-op on any
    multi-split scan either way."""
    from ml_data_wrangler_spark.operators._partition import (
        TOKENIZE_REPARTITION_MIN_BYTES,
    )

    return (
        ensure_parallelism(
            t(spark, sf_dir, "documents").select("text"),
            min_bytes=TOKENIZE_REPARTITION_MIN_BYTES,
        )
        .select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "qt02_doc_stats_by_lang",
    oracle=f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(len({SQL_TOKS}) AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(len({SQL_TOKS}) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM documents
GROUP BY lang
""",
)
def qt02(spark, sf_dir):
    """Per-language corpus statistics (token counting as a first-class
    pipeline op)."""
    d = t(spark, sf_dir, "documents").select(
        "lang", "n_chars", token_count(F.col("text")).alias("n_tokens")
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
    )


_SQL_NOT_PII = (
    f"NOT (regexp_matches(w, '{EMAIL_RE}') OR regexp_matches(w, '{URL_RE}')"
    f" OR regexp_matches(w, '{UUID_RE}') OR regexp_matches(w, '{MD5_RE}')"
    f" OR regexp_matches(w, '{IPV4_RE}'))"
)


@query(
    "qt03_pii_scrub",
    oracle=f"""
SELECT doc_id,
       array_to_string(
         list_filter(regexp_split_to_array(text, '\\s+'),
                     w -> len(w) > 0 AND {_SQL_NOT_PII}),
         ' ') AS scrubbed
FROM documents
""",
)
def qt03(spark, sf_dir):
    """F2 — token-level PII scrub (email/URL/UUID/MD5/IPv4 validators,
    utility.py:181-208 intent) as pure array expressions."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", pii_scrub(F.col("text")).alias("scrubbed")
    )


_SQL_EN_SET = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"

@query(
    "qt04_quality_scores",
    oracle=f"""
WITH feat AS (
  SELECT doc_id,
         CAST(len({SQL_TOKS}) AS BIGINT) AS tok_cnt,
         CASE WHEN len(text) > 0
              THEN CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / len(text)
              ELSE 0.0 END AS a_ratio,
         CASE WHEN len({SQL_TOKS}) > 0
              THEN CAST(len(list_filter({SQL_TOKS}, x -> list_contains({_SQL_EN_SET}, x))) AS DOUBLE)
                     / len({SQL_TOKS})
              ELSE 0.0 END AS s_ratio
  FROM documents
)
SELECT doc_id,
       ROUND(0.4 * least(tok_cnt / 50.0, 1.0) + 0.4 * a_ratio + 0.2 * s_ratio, 6)
         AS quality
FROM feat
""",
)
def qt04(spark, sf_dir):
    """Heuristic quality scoring (Gopher/C4-style length + alpha +
    stopword features collapsed to one scalar)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )


def _sql_hits(code: str) -> str:
    words = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[code]) + "]"
    return f"len(list_filter({SQL_TOKS}, x -> list_contains({words}, x)))"


@query(
    "qt05_language_id",
    oracle=f"""
WITH hits AS (
  SELECT doc_id, lang AS labeled_lang,
         {_sql_hits('en')} AS h_en, {_sql_hits('de')} AS h_de,
         {_sql_hits('fr')} AS h_fr, {_sql_hits('es')} AS h_es
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
            WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
            WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
            ELSE 'de' END AS detected_lang
FROM hits
""",
)
def qt05(spark, sf_dir):
    """Language-ID heuristic (function-word hit argmax; ties resolved
    by struct-max code order — the oracle CASE mirrors it)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        detect_language(F.col("text")).alias("detected_lang"),
    )


@query(
    "qt06_token_budget_by_source",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(len({SQL_TOKS}) AS BIGINT)) AS BIGINT) AS word_tokens,
       CAST(SUM(CAST(len(regexp_extract_all(lower(text), '{SUBWORD_PATTERN}')) AS BIGINT)) AS BIGINT)
         AS subword_tokens
FROM documents
GROUP BY source
""",
)
def qt06(spark, sf_dir):
    """Token budgeting per source: word tokens + BPE-ish subword
    estimate (corpus costing for training pipelines)."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        token_count(F.col("text")).alias("wt"),
        subword_count(F.col("text")).alias("st"),
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("wt").alias("word_tokens"),
        F.sum("st").alias("subword_tokens"),
    )


@query(
    "qt07_fingerprints",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def qt07(spark, sf_dir):
    """Document fingerprinting: md5 over whitespace-normalized text
    (the exact-dedup key; md5 so the oracle can reproduce it)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


@query(
    "qt08_bigram_counts",
    oracle=f"""
WITH toks AS (SELECT {SQL_TOKS} AS l FROM documents)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM toks WHERE len(l) >= 2
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def qt08(spark, sf_dir):
    """Top-20 bigrams — n-gram construction as array expressions
    (sequence → slice → join), no UDF."""
    toks = t(spark, sf_dir, "documents").select(tokenize(F.col("text")).alias("l"))
    bigrams = (
        toks.where(F.size("l") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("l", i), F.element_at("l", i + 1)
                    ),
                )
            ).alias("bigram")
        )
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@query(
    "qt09_bigram_pmi",
    oracle=f"""
WITH toks AS (SELECT {SQL_TOKS} AS l FROM documents),
uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n1
  FROM (SELECT unnest(l) AS tok FROM toks)
  GROUP BY tok
),
tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_tokens FROM uni),
bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb
  FROM (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(l) - 1)) AS g(i)
    WHERE len(l) >= 2
  )
  GROUP BY w1, w2
),
btot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n_bigrams FROM bg)
SELECT w1, w2, nb,
       ROUND(ln(CAST(nb AS DOUBLE) * n_tokens * n_tokens
                / (CAST(n_bigrams AS DOUBLE) * a.n1 * b.n1)), 6) AS pmi
FROM bg, tot, btot
JOIN uni a ON w1 = a.tok
JOIN uni b ON w2 = b.tok
WHERE nb >= 5
ORDER BY pmi DESC, w1, w2
LIMIT 20
""",
)
def qt09(spark, sf_dir):
    """Top-20 bigram collocations by pointwise mutual information —
    the phrase-mining primitive (PMI(a,b) = ln P(ab)/(P(a)P(b)) with
    a min-count floor against noise).

    Shape at scale: two narrow aggregations (unigram + bigram counts),
    two scalar totals, then a BROADCAST join of the (tiny, post-floor)
    bigram table against unigram counts — no shuffle touches the raw
    token stream twice. Float discipline: the PMI ratio is assembled
    in ONE double expression with identical association order in both
    engines, then rounded to 6 decimals to absorb the last ulp."""
    # no cache: unigram and bigram passes each re-scan ONE pruned
    # column — at 100 TB two columnar scans beat materializing the
    # tokenized corpus
    toks = t(spark, sf_dir, "documents").select(tokenize(F.col("text")).alias("l"))
    uni = (
        toks.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n1"))
    )
    bg = (
        toks.where(F.size("l") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.struct(
                        F.element_at("l", i).alias("w1"),
                        F.element_at("l", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("nb"))
    )
    tot = uni.agg(F.sum("n1").alias("n_tokens"))
    btot = bg.agg(F.sum("nb").alias("n_bigrams"))
    a = uni.select(F.col("tok").alias("w1"), F.col("n1").alias("na"))
    b = uni.select(F.col("tok").alias("w2"), F.col("n1").alias("nb1"))
    pmi = F.round(
        F.log(
            F.col("nb").cast("double") * F.col("n_tokens") * F.col("n_tokens")
            / (F.col("n_bigrams").cast("double") * F.col("na") * F.col("nb1"))
        ),
        6,
    )
    return (
        bg.where(F.col("nb") >= 5)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .select("w1", "w2", "nb", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@query(
    "qt10_repetition_scores",
    oracle=f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS l FROM documents),
base AS (SELECT doc_id, l FROM toks WHERE len(l) >= 2),
uni AS (
  SELECT doc_id, MAX(c) AS top_uni, CAST(SUM(c) AS BIGINT) AS n_toks
  FROM (SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(l) AS tok FROM base)
        GROUP BY doc_id, tok)
  GROUP BY doc_id
),
big AS (
  SELECT doc_id, MAX(c) AS top_bi, CAST(SUM(c) AS BIGINT) AS n_bi
  FROM (SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(l) - 1),
                                           i -> l[i] || ' ' || l[i + 1])) AS bg
              FROM base)
        GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT u.doc_id, u.n_toks,
       ROUND(CAST(u.top_uni AS DOUBLE) / u.n_toks, 6) AS top_unigram_frac,
       ROUND(CAST(b.top_bi AS DOUBLE) / b.n_bi, 6) AS top_bigram_frac,
       (CAST(u.top_uni AS DOUBLE) / u.n_toks > 0.30
        OR CAST(b.top_bi AS DOUBLE) / b.n_bi > 0.18) AS flagged
FROM uni u JOIN big b USING (doc_id)
""",
)
def qt10(spark, sf_dir):
    """Gopher-style repetition quality scores (top-unigram and
    top-bigram fraction per document, Rae et al. 2021 §A1.1 adapted to
    token counts) — computed ENTIRELY map-side: the mode's count comes
    from a sort-the-array + longest-run fold per row
    (functions.textstats.max_multiplicity), so the corpus is never
    exploded into a (doc, gram) table and the query plan has ZERO
    exchanges. The oracle recomputes the same statistic the relational
    way (unnest → two GROUP BYs), proving the fold is exact. At 100 TB
    this is the difference between a free scan-time filter and a
    corpus-sized shuffle."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", tokenize(F.col("text")).alias("l"))
        .where(F.size("l") >= 2)
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("l") - 1),
        lambda i: F.concat_ws(" ", F.element_at("l", i), F.element_at("l", i + 1)),
    )
    n = F.size("l").cast("bigint")
    uni_frac = max_multiplicity(F.col("l")).cast("double") / n
    bi_frac = max_multiplicity(bigrams).cast("double") / (n - F.lit(1))
    return docs.select(
        "doc_id",
        n.alias("n_toks"),
        F.round(uni_frac, 6).alias("top_unigram_frac"),
        F.round(bi_frac, 6).alias("top_bigram_frac"),
        ((uni_frac > 0.30) | (bi_frac > 0.18)).alias("flagged"),
    )


@query(
    "qt11_quality_gate",
    oracle=f"""
WITH feat AS (
  SELECT source,
         CAST(len({SQL_TOKS}) AS BIGINT) AS nt,
         CASE WHEN len(text) > 0
              THEN CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / len(text)
              ELSE 0.0 END AS a_ratio,
         lang AS labeled_lang,
         {_sql_hits('en')} AS h_en, {_sql_hits('de')} AS h_de,
         {_sql_hits('fr')} AS h_fr, {_sql_hits('es')} AS h_es
  FROM documents
), flags AS (
  SELECT source,
         (nt = 0) AS empty_doc,
         (nt > 0 AND nt < 10) AS too_short,
         (a_ratio < 0.5) AS low_alpha,
         (CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
               WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
               WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
               WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
               ELSE 'de' END) <> labeled_lang AS lang_mismatch
  FROM feat
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN empty_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       CAST(SUM(CASE WHEN too_short THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
       CAST(SUM(CASE WHEN low_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_low_alpha,
       CAST(SUM(CASE WHEN lang_mismatch THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_mismatch,
       CAST(SUM(CASE WHEN NOT (empty_doc OR too_short OR low_alpha OR lang_mismatch)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source
""",
)
def qt11(spark, sf_dir):
    """Data-quality gate report: per-source counts for each rejection
    rule (empty / too-short / low-alphabetic / language-mismatch) plus
    the pass count — the observability summary a corpus build emits
    before selection, so data loss is a number, not a surprise (the
    reference logged its wrangle failures; this is that intent as an
    operator). All rules are map-side expressions over one scan; one
    20-row aggregation."""
    d = t(spark, sf_dir, "documents")
    nt = token_count(F.col("text"))
    from ml_data_wrangler_spark.functions.textstats import alpha_ratio

    empty_doc = nt == 0
    too_short = (nt > 0) & (nt < 10)
    low_alpha = alpha_ratio(F.col("text")) < 0.5
    lang_mismatch = detect_language(F.col("text")) != F.col("lang")
    cnt = lambda c: F.sum(c.cast("bigint"))  # noqa: E731
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt(empty_doc).alias("n_empty"),
        cnt(too_short).alias("n_too_short"),
        cnt(low_alpha).alias("n_low_alpha"),
        cnt(lang_mismatch).alias("n_lang_mismatch"),
        cnt(~(empty_doc | too_short | low_alpha | lang_mismatch)).alias("n_pass"),
    )


@query(
    "qt12_unigram_lm_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n1 FROM tok GROUP BY token
), tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS n_tokens FROM uni
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       ROUND(AVG(ln(CAST(n1 AS DOUBLE) / n_tokens)), 4) AS lm_score
FROM tok
CROSS JOIN tot
JOIN uni USING (token)
GROUP BY doc_id
ORDER BY lm_score, doc_id
LIMIT 50
""",
)
def qt12(spark, sf_dir):
    """Unigram language-model quality scoring: each document's mean
    log-probability under the corpus's own unigram MLE — the cheap
    statistical stand-in for perplexity filtering (docs full of rare
    junk tokens score low; no external LM needed). Returns the 50 most
    atypical documents.

    Shape at scale: one token aggregation builds the model; the
    vocabulary-sized count table then joins back onto the token
    stream. The model side is bounded by distinct-token count —
    AQE broadcasts it at realistic vocabulary sizes, and the join
    key is the token either way (never a re-shuffle of documents).
    Float discipline: ln + mean assembled identically on both
    engines, rounded to 4 decimals to absorb summation-order ulps;
    (score, doc_id) total order before the limit."""
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    )
    uni = toks.groupBy("token").agg(F.count("*").alias("n1"))
    tot = uni.agg(F.sum("n1").alias("n_tokens"))
    return (
        toks.join(uni, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(
                F.avg(F.log(F.col("n1").cast("double") / F.col("n_tokens"))), 4
            ).alias("lm_score"),
        )
        .orderBy("lm_score", "doc_id")
        .limit(50)
    )


@query(
    "qt13_zipf_fit",
    oracle=f"""
WITH uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n1
  FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
  GROUP BY token
), ranked AS (
  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n1 DESC, token) AS DOUBLE)) AS x,
         ln(CAST(n1 AS DOUBLE)) AS y
  FROM uni
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM ranked
)
SELECT k AS n_types,
       (SELECT CAST(SUM(n1) AS BIGINT) FROM uni) AS n_tokens,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope,
       ROUND((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 4)
         AS zipf_intercept
FROM s
""",
)
def qt13(spark, sf_dir):
    """Zipf rank-frequency fit: OLS slope/intercept of ln(freq) vs
    ln(rank) over the token distribution — the corpus-health
    diagnostic (natural language sits near slope −1; template spam,
    boilerplate floods, and synthetic junk bend it) that belongs in
    every corpus build's observability report.

    Shape at scale: ONE token aggregation; the rank over the
    vocabulary-sized table (hundreds of millions of token types at
    100 TB — NOT days-bounded) uses the two-pass distributed
    global_row_number (qw07's pattern: range-partition + local
    row_number + broadcast offsets), so no WindowExec in the plan ever
    runs unpartitioned; everything collapses to a single row of sums.
    Float discipline: slope assembled from the five sums in ONE
    expression, identical association order both engines, rounded to
    4."""
    from ml_data_wrangler_spark.plans._util import global_row_number

    uni = (
        t(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n1"))
    )
    ranked = global_row_number(uni, F.desc("n1"), F.col("token")).select(
        F.log(F.col("rn").cast("double")).alias("x"),
        F.log(F.col("n1").cast("double")).alias("y"),
        F.col("n1"),
    )
    s = ranked.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("n1").alias("n_tokens"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").alias("n_types"),
        F.col("n_tokens"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 4).alias(
            "zipf_intercept"
        ),
    )


@query(
    "qt14_lang_confusion_matrix",
    oracle=f"""
WITH hits AS (
  SELECT lang AS labeled_lang,
         {_sql_hits('en')} AS h_en, {_sql_hits('de')} AS h_de,
         {_sql_hits('fr')} AS h_fr, {_sql_hits('es')} AS h_es
  FROM documents
), det AS (
  SELECT labeled_lang,
         CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
              WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
              WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
              WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
              ELSE 'de' END AS detected_lang
  FROM hits
), m AS (
  SELECT labeled_lang, detected_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM det GROUP BY labeled_lang, detected_lang
), tot AS (
  SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_label FROM m
  GROUP BY labeled_lang
)
SELECT m.labeled_lang, m.detected_lang, n,
       ROUND(CAST(n AS DOUBLE) / n_label, 4) AS frac_of_label
FROM m JOIN tot USING (labeled_lang)
ORDER BY labeled_lang, detected_lang
""",
)
def qt14(spark, sf_dir):
    """Language-ID confusion matrix: labeled language × detected
    language with row-normalized fractions — the classifier-quality
    report behind qt11's single mismatch count (WHICH languages get
    confused, and how often, not just that some do). Diagonal mass =
    detector accuracy per label; off-diagonal cells say whether to
    grow a language's function-word set.

    Map-side detection (array expressions), one |langs|²-group
    aggregation, then a broadcast join against the row totals derived
    from the same counts."""
    d = t(spark, sf_dir, "documents").select(
        F.col("lang").alias("labeled_lang"),
        detect_language(F.col("text")).alias("detected_lang"),
    )
    m = d.groupBy("labeled_lang", "detected_lang").agg(F.count("*").alias("n"))
    tot = m.groupBy("labeled_lang").agg(F.sum("n").alias("n_label"))
    return (
        m.join(F.broadcast(tot), "labeled_lang")
        .select(
            "labeled_lang",
            "detected_lang",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_label"), 4).alias(
                "frac_of_label"
            ),
        )
        .orderBy("labeled_lang", "detected_lang")
    )


_SQL_WS_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), w -> len(w) > 0)"


def _sql_pii_count(pattern: str) -> str:
    return (
        f"CAST(len(list_filter({_SQL_WS_TOKS}, w -> regexp_matches(w, '{pattern}')))"
        " AS BIGINT)"
    )


@query(
    "qt15_pii_incidence",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({_SQL_WS_TOKS}) AS BIGINT) AS n_tokens,
         {_sql_pii_count(EMAIL_RE)} AS n_email,
         {_sql_pii_count(URL_RE)} AS n_url,
         {_sql_pii_count(UUID_RE)} AS n_uuid,
         {_sql_pii_count(MD5_RE)} AS n_md5,
         {_sql_pii_count(IPV4_RE)} AS n_ipv4
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_email) AS BIGINT) AS n_email,
       CAST(SUM(n_url) AS BIGINT) AS n_url,
       CAST(SUM(n_uuid) AS BIGINT) AS n_uuid,
       CAST(SUM(n_md5) AS BIGINT) AS n_md5,
       CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(SUM(CASE WHEN n_email + n_url + n_uuid + n_md5 + n_ipv4 > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
FROM per_doc GROUP BY source ORDER BY source
""",
)
def qt15(spark, sf_dir):
    """PII incidence report: per source, how many tokens match each
    scrub class (email/URL/UUID/MD5/IPv4 — the same validators qt03
    REMOVES with) and how many documents carry any — the compliance
    number a pipeline publishes BEFORE scrubbing, so redaction volume
    is monitored, not assumed. All map-side regex counts over one
    scan, one 20-row aggregation."""
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0)

    def n_match(pattern):
        return F.size(
            F.filter(ws, lambda w: w.rlike(pattern))
        ).cast("bigint")

    d = t(spark, sf_dir, "documents").select(
        "source",
        F.size(ws).cast("bigint").alias("n_tokens"),
        n_match(EMAIL_RE).alias("n_email"),
        n_match(URL_RE).alias("n_url"),
        n_match(UUID_RE).alias("n_uuid"),
        n_match(MD5_RE).alias("n_md5"),
        n_match(IPV4_RE).alias("n_ipv4"),
    )
    any_pii = (
        F.col("n_email") + F.col("n_url") + F.col("n_uuid")
        + F.col("n_md5") + F.col("n_ipv4")
    ) > 0
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_email").alias("n_email"),
            F.sum("n_url").alias("n_url"),
            F.sum("n_uuid").alias("n_uuid"),
            F.sum("n_md5").alias("n_md5"),
            F.sum("n_ipv4").alias("n_ipv4"),
            F.sum(any_pii.cast("bigint")).alias("n_docs_with_pii"),
        )
        .orderBy("source")
    )


@query(
    "qt16_readability",
    oracle=f"""
WITH counts AS (
  SELECT doc_id,
         CAST(greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                                       s -> trim(s) <> '')), 1) AS BIGINT) AS n_sents,
         CAST(len({SQL_TOKS}) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
  FROM documents
)
SELECT doc_id, n_sents, n_words, n_syll,
       CASE WHEN n_words > 0
            THEN ROUND(206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                       - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4)
       END AS flesch
FROM counts
""",
)
def qt16(spark, sf_dir):
    """Flesch reading-ease per document with fully deterministic
    proxies — sentences = non-empty [.!?]-delimited segments (floored
    at 1), words = the engine-wide tokenizer, syllables = vowel-group
    runs ([aeiouy]+, the standard dictionary-free heuristic) — the
    readability feature corpus-quality filters bucket on (very low
    scores flag run-on machine text; very high flag fragment spam).
    Pure JVM regexp arithmetic, shuffle-free map; every count is
    integer-exact cross-engine and the score is ONE expression with
    identical association on both sides, so it hash-matches without
    tolerance games."""
    n_sents = F.greatest(
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    ).cast("long")
    n_words = F.size(tokenize(F.col("text"))).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    counts = t(spark, sf_dir, "documents").select(
        "doc_id",
        n_sents.alias("n_sents"),
        n_words.alias("n_words"),
        n_syll.alias("n_syll"),
    )
    flesch = F.when(
        F.col("n_words") > 0,
        F.round(
            206.835
            - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
            - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")),
            4,
        ),
    )
    return counts.select(
        "doc_id", "n_sents", "n_words", "n_syll", flesch.alias("flesch")
    )


@query(
    "qt17_shingle_novelty",
    oracle=f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(l[i:i + 4], ' ') AS s
  FROM toks, unnest(generate_series(1, len(l) - 4)) AS g(i)
  WHERE len(l) >= 5
),
dfreq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS nd FROM sh GROUP BY s)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN dfreq.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       ROUND(CAST(SUM(CASE WHEN dfreq.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) + 0 AS shared_frac
FROM sh JOIN dfreq USING (s)
GROUP BY sh.doc_id
ORDER BY shared_frac DESC, doc_id
""",
)
def qt17(spark, sf_dir):
    """Per-document 5-gram novelty: the fraction of a document's
    DISTINCT word 5-grams that also occur in at least one other
    document — the memorization/boilerplate profile used to find
    template-heavy or heavily-quoted documents that per-doc quality
    scores (qt04) and whole-doc dedup (qd01-qd10) both miss. A
    shared_frac near 1 with no near-dup partner means the document
    is stitched from common spans (the ExactSubstr-lite signal;
    qd14 extracts the spans themselves, this ranks the documents).

    Shape at scale: shingling is a map-only array expression
    (operators/dedup._shingles_from_tokens); the only shuffles are
    the distinct doc-shingle projection, the shingle-frequency
    aggregation, and the join back — all keyed on the shingle, so the
    exchange is shared. No pairwise work anywhere: cost is linear in
    total shingle volume, the same posting-list shape qd02 bounds."""
    from ml_data_wrangler_spark.operators.dedup import _shingles_from_tokens

    docs = t(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", tokenize(F.col("text")).alias("l"))
        .where(F.size("l") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_shingles_from_tokens(F.col("l"), 5))
            ).alias("s"),
        )
    )
    dfreq = sh.groupBy("s").agg(F.count("*").alias("nd"))
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            shared.alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            (
                F.round(
                    F.col("n_shared").cast("double") / F.col("n_shingles"), 6
                )
                + F.lit(0.0)
            ).alias("shared_frac"),
        )
        .orderBy(F.desc("shared_frac"), "doc_id")
    )


@query(
    "qt18_source_diversity",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({SQL_TOKS}) AS token FROM documents
),
st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
  FROM tok GROUP BY source, token
),
tdf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_sources FROM st GROUP BY token
),
per_source AS (
  SELECT st.source,
         CAST(SUM(st.n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN st.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(SUM(CASE WHEN tdf.n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_types
  FROM st JOIN tdf USING (token)
  GROUP BY st.source
)
SELECT source, n_tokens, n_types,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) + 0 AS ttr,
       ROUND(CAST(n_hapax AS DOUBLE) / n_types, 6) + 0 AS hapax_frac,
       ROUND(CAST(n_shared_types AS DOUBLE) / n_types, 6) + 0 AS shared_frac
FROM per_source ORDER BY source
""",
)
def qt18(spark, sf_dir):
    """Per-source lexical diversity profile: type-token ratio, hapax
    fraction (types occurring once in the source — the productive-
    vocabulary signal), and the fraction of the source's vocabulary
    shared with at least one OTHER source — the corpus-composition
    audit that tells a mixture designer which sources add vocabulary
    versus which re-sample the common core (complements qm10's
    chi-squared keywords, which rank WHAT distinguishes a source;
    this measures HOW MUCH is distinct).

    Shape at scale: one (source, token) aggregation, a token-keyed
    join against the vocabulary-bounded source-frequency table, and
    a per-source rollup — the same posting-list shape as qt17, never
    pairwise in the number of sources. All ratios are single IEEE
    divisions of exact counts."""
    tok = t(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    st = tok.groupBy("source", "token").agg(F.count("*").alias("n"))
    tdf = st.groupBy("token").agg(F.count("*").alias("n_sources"))
    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (
        st.join(tdf, "token")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum(F.when(F.col("n_sources") >= 2, 1).otherwise(0)).alias(
                "n_shared_types"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            r6(F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
            r6(F.col("n_hapax").cast("double") / F.col("n_types")).alias(
                "hapax_frac"
            ),
            r6(
                F.col("n_shared_types").cast("double") / F.col("n_types")
            ).alias("shared_frac"),
        )
        .orderBy("source")
    )


# BM25's linear term-frequency prologue (tokens → per-(doc, token)
# tf), shared verbatim between the SQL oracle CTE and the Python
# scale-oracle kernel so the two can never drift on the input
# definition — only the query×posting fan-out differs between them.
_BM25_BTF_CTES = f"""bdt AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
),
btf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM bdt GROUP BY doc_id, token
)"""


def bm25_sql_cte(top: int) -> str:
    """WITH-body fragment (no leading WITH) ending in relation
    ``btop(query_id, cand_id, rnk, s)``: BM25 (k1 = 1.2, b = 0.75)
    top-``top`` candidates per query doc (doc_id % 20 == 0), ranked on
    the EXACT micro-quantized integer score. Shared by qt19's oracle
    and qv20's hybrid-fusion oracle."""
    return f"""{_BM25_BTF_CTES},
bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
bdf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM btf GROUP BY token),
bcorp AS (
  SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
         CAST((SELECT SUM(dl) FROM bdl) AS DOUBLE)
           / (SELECT COUNT(*) FROM documents) AS avgdl
),
bidf AS (
  SELECT token,
         ROUND(ln(1 + (bcorp.n_docs - df + 0.5) / (df + 0.5)), 6) + 0 AS idf
  FROM bdf, bcorp
),
bq AS (
  SELECT doc_id AS query_id, token FROM btf WHERE doc_id % 20 = 0
),
bscore AS (
  SELECT bq.query_id, c.doc_id AS cand_id,
         SUM(CAST(ROUND(bidf.idf
               * ((c.tf * 2.2)
                  / (c.tf + 1.2 * (0.25 + 0.75 * (cd.dl / bcorp.avgdl))))
               * 1e6) AS BIGINT)) AS s
  FROM bq
  JOIN btf c ON c.token = bq.token AND c.doc_id <> bq.query_id
  JOIN bidf ON bidf.token = bq.token
  JOIN bdl cd ON cd.doc_id = c.doc_id
  CROSS JOIN bcorp
  GROUP BY bq.query_id, c.doc_id
),
btop AS (
  SELECT query_id, cand_id, rnk, s FROM (
    SELECT query_id, cand_id, s,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s DESC, cand_id) AS rnk
    FROM bscore
  ) WHERE rnk <= {top}
)"""


def bm25_topk_py(con, top: int) -> list[tuple[int, int, int, int]]:
    """Scale-tier BM25 kernel shared by qt19's and qv20's Python
    scale-oracles: (query_id, cand_id, rnk, s) rows of the exact
    micro-quantized top-``top``, same value definition as
    :func:`bm25_sql_cte`.

    Why this exists: the SQL CTE's scoring step fans every query
    token out to its posting list — on the fixture's dense ~31-token
    vocabulary (df ≈ 0.78·N) that is Θ(|Q|·N) ≈ 1e9 join rows into a
    |Q|·N-key aggregate at the 6× tier, which the row engine can only
    aggregate by spilling the partitioned input (measured: 40-80 GB
    of temp; two sweep deaths from transient disk headroom). The
    matrix formulation needs none of that: DuckDB computes the linear
    tf prologue (the SQL oracle's own CTEs via _BM25_BTF_CTES), the
    query-independent per-posting weight w_u = ROUND(idf·sat·1e6) is
    built per (doc, token) exactly as in SQL (idf rounded HALF-AWAY
    to 6 decimals first, float64 factor order preserved), and the
    score matrix is one N×V @ V×|Q| GEMM — integer-exact in float64
    because w_u ≤ ~2.3e7 and ≤ V terms sum, far under 2^53. A pair is
    a candidate iff it SHARES ≥ 1 token (presence GEMM, counts ≤ V,
    float32-exact), not iff s > 0 — zero-weight matches still rank.
    Top-``top`` per query by (s DESC, cand_id), like the SQL window."""
    import numpy as np

    pdf = con.execute(
        "WITH " + _BM25_BTF_CTES + "\nSELECT doc_id, token, tf FROM btf"
    ).df()
    n_docs = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    if len(pdf) == 0:
        return []
    doc = pdf["doc_id"].to_numpy(dtype=np.int64)
    tf = pdf["tf"].to_numpy(dtype=np.float64)
    docs, dinv = np.unique(doc, return_inverse=True)
    toks, tinv = np.unique(pdf["token"].to_numpy(), return_inverse=True)
    nd, nv = len(docs), len(toks)
    dl = np.bincount(dinv, weights=tf, minlength=nd)
    df_t = np.bincount(tinv, minlength=nv).astype(np.float64)
    avgdl = dl.sum() / n_docs
    # ROUND(ln(1 + (n-df+0.5)/(df+0.5)), 6): always ≥ 0, so half-away
    # == half-up
    idf = np.floor(np.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * 1e6 + 0.5) / 1e6
    # per-posting weight, float64 factor order identical to the SQL:
    # idf * ((tf*2.2) / (tf + 1.2*(0.25 + 0.75*(dl/avgdl)))), then
    # ROUND(w * 1e6) to BIGINT (positive → half-up)
    w = idf[tinv] * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl[dinv] / avgdl))))
    w_u = np.floor(w * 1e6 + 0.5)
    W = np.zeros((nd, nv), dtype=np.float64)
    W[dinv, tinv] = w_u
    P = np.zeros((nd, nv), dtype=np.float32)
    P[dinv, tinv] = 1.0
    q_rows = np.flatnonzero(docs % 20 == 0)
    if len(q_rows) == 0:
        return []
    S = (W @ P[q_rows].T.astype(np.float64)).astype(np.int64)
    M = (P @ P[q_rows].T) > 0.0
    out: list[tuple[int, int, int, int]] = []
    for j, qi in enumerate(q_rows):
        m = M[:, j].copy()
        m[qi] = False  # c.doc_id <> query_id
        cand = np.flatnonzero(m)
        if len(cand) == 0:
            continue
        s = S[cand, j]
        order = np.lexsort((docs[cand], -s))
        for r, k in enumerate(order[:top], 1):
            out.append((int(docs[qi]), int(docs[cand[k]]), r, int(s[k])))
    return out


def _qt19_scale_oracle(con):
    """Scale-tier oracle for qt19 (see :func:`bm25_topk_py` for why
    the SQL fan-out is infeasible on a row engine at the 6× tier):
    same output shape as the SQL oracle — bm25 = ROUND(s/1e6, 6) + 0,
    ordered by (query_id, rnk)."""
    rows = bm25_topk_py(con, 3)
    cols = ["query_id", "rnk", "cand_id", "bm25"]
    import math

    out = [
        (q, r, c, math.floor((s / 1e6) * 1e6 + 0.5) / 1e6 + 0.0)
        for (q, c, r, s) in rows
    ]
    out.sort(key=lambda t: (t[0], t[1]))
    return cols, out


def bm25_rankings(
    spark,
    sf_dir,
    top: int,
    max_query_rows: int = 2_000_000,
    max_query_cells: int = 32_000_000,
    chunk_cells: int = 4_000_000,
):
    """Spark dual of :func:`bm25_sql_cte` — DataFrame
    (query_id, cand_id, rnk, s) of the BM25 top-``top`` per query doc.

    Okapi BM25 (k1 = 1.2, b = 0.75, the Robertson idf in its
    always-positive ln(1 + …) form). The per-(query, candidate) score
    sums term contributions micro-quantized to BIGINT, so the ranking
    key is an exact integer on any partitioning; idf is rounded to
    1e-6 straight after the ln so both engines feed identical doubles
    into the sum.

    Shape at scale: tf/dl/df are one tokenize-explode pass plus three
    bounded aggregations. The key algebraic fact: the per-term
    contribution idf_t · sat(tf_ct, dl_c) is QUERY-INDEPENDENT, so it
    is precomputed (and micro-quantized) once per (token, candidate)
    posting on the small tf relation — idf (broadcast), dl
    (posting-grain equi-join), and avgdl (broadcast) attach BEFORE
    the fan-out. Scoring is then a single
    posting-list equi-join on token (query terms × weighted postings)
    feeding one sum aggregation and a query-partitioned top-k window;
    nothing but the sum runs at fan-out cardinality. (The previous
    formulation joined idf and dl AFTER the fan-out — two extra
    joins at |queries|×|postings| size; measured 17.2s → this form
    cuts the join work at identical integer scores, so the oracle is
    unchanged.) At 100 TB you'd additionally cap the hot-token
    fan-out with qm01's df pruning before the join (this fixture's
    vocabulary is ~31 near-stopword tokens, so no cut is applied
    here)."""
    from ml_data_wrangler_spark.operators._partition import (
        TOKENIZE_REPARTITION_MIN_BYTES,
    )

    docs = t(spark, sf_dir, "documents")
    # repartition raw text before the tokenize map (trap #1, round
    # 12): the 1-split scan otherwise tokenizes the whole corpus in
    # one task before tf's checkpoint; no-op on multi-split scans,
    # and skipped below the plain-tokenize break-even (round 13 — the
    # interleaved A/B won 5/6 pairs without it at sf0.1, median 3.59
    # vs 3.75 s; the serial pass is ~1 s against a ~0.3-0.5 s shuffle).
    # dl (per-doc token count) rides the SAME pass as a carried
    # constant — size(toks) before the explode — instead of being
    # re-aggregated from tf and equi-joined back at posting grain
    # (round 12, guide §2.4: that was one groupBy exchange + one join
    # exchange existing only to recompute a value the tokenize pass
    # already held). Grouping by (doc_id, dl, token) == (doc_id,
    # token) because dl is functionally dependent on doc_id, so tf is
    # row-identical and every downstream value is unchanged.
    dt = (
        ensure_parallelism(
            docs.select("doc_id", "text"),
            min_bytes=TOKENIZE_REPARTITION_MIN_BYTES,
        )
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("token"),
        )
    )
    # tf is consumed by FOUR branches (weights, doc lengths, document
    # frequencies, the query side) — materialize the one
    # tokenize-explode-aggregate pass instead of recomputing it per
    # branch (the iterative-lineage rule; measured 18.8s → 14.4s for
    # qt19 at sf0.1)
    tf = (
        dt.groupBy("doc_id", "dl", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dfr = tf.groupBy("token").agg(F.count("*").alias("df"))
    # Σ_(doc,token) tf == Σ_doc dl — total_tokens aggregates straight
    # off tf, retiring the dl relation the old corp read
    corp = (
        tf.agg(F.sum("tf").alias("total_tokens"))
        .crossJoin(docs.agg(F.count("*").alias("n_docs")))
        .select(
            "n_docs",
            (
                F.col("total_tokens").cast("double") / F.col("n_docs")
            ).alias("avgdl"),
        )
    )
    idf = dfr.crossJoin(F.broadcast(corp)).select(
        "token",
        (
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("idf"),
    )
    bq = tf.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    term = F.col("idf") * (
        (F.col("tf") * 2.2)
        / (
            F.col("tf")
            + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl")))
        )
    )
    # query-independent per-posting weight, quantized BEFORE the
    # query×posting fan-out: idf (vocab-sized) and corp (1 row)
    # broadcast; dl is already ON the posting row (carried through
    # tf's checkpoint), so the old doc-grain dl equi-join is gone
    # repartition the weighted postings BEFORE the broadcast fan-out:
    # AQE coalesces the small (~|postings|-row) aggregate to very few
    # partitions, but the join below EXPLODES each posting row by the
    # matching query terms — partition count must follow the
    # POST-fan-out size, not the input size, or the whole scoring
    # stage runs on one task (measured 13.8s → 3.3s at sf0.1)
    parallelism = spark.sparkContext.defaultParallelism
    wgt = (
        tf.join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(corp))
        .select(
            F.col("doc_id").alias("cand_id"),
            "token",
            F.round(term * 1e6).cast("long").alias("tq"),
        )
        .repartition(parallelism, "cand_id")
    )
    # SCORING (round 13, guide §4.2 — the round-12 driver profile put
    # 27-36 executor-CPU-SECONDS per run in the old scoring stage at
    # sf0.1, ~80% of qv20's wall and the whole of its superlinear
    # 8-core profile): the per-(query, candidate) score is a sparse
    # matrix product S = W_postings @ Q_presence — ~39M FLOPs here,
    # milliseconds of numpy — but the relational form computed it as
    # a ~37M-row broadcast-join fan-out through a 1.25M-group hash
    # aggregate at ~1 µs/row of JVM codegen. The Arrow kernel below
    # (same discipline as brute_force_topk_fold / qv18's gram kernel)
    # computes the identical integer scores per cand_id-partition and
    # emits only chunk-local top-``top`` rows per query under the
    # FINAL total order (s DESC, cand_id ASC), so the global rank
    # window merges O(chunks × |Q| × top) rows instead of the full
    # (query, cand) stream. Exactness: every per-posting weight tq is
    # an integer ≤ ~idf_max·2.2·1e6 (≈6e7 at n=1e12 docs) and a score
    # sums ≤ |query terms| of them — far under 2^53, so the float64
    # GEMM sums are bit-exactly the old LongType sums; candidacy is
    # presence (shares ≥ 1 token, zero-weight matches still rank),
    # NOT s > 0, exactly the SQL/scale-oracle semantics; chunk-local
    # top-k under the final order makes the global merge exact (any
    # global top-k row is within its chunk's top-k).
    #
    # Dispatch (the qm09/fold-kernel discipline): the query term set
    # is collected via a limit(cap+1)-BOUNDED toPandas — never more
    # than max_query_rows+1 rows cross the driver for ANY corpus. If
    # the query side outgrows the broadcast budget (rows, or
    # tokens×queries presence cells), the old broadcast-join path
    # below runs unchanged (same values — pinned bit-identical by
    # tests/test_bm25_kernel_equivalence.py); at that tier a df-pruned
    # vocabulary equi-join is the right next shape, as before.
    q_pdf = bq.limit(max_query_rows + 1).toPandas()
    dense_ok = len(q_pdf) <= max_query_rows
    if dense_ok and len(q_pdf) > 0:
        import numpy as np

        tok_u, q_tok_idx = np.unique(
            q_pdf["token"].to_numpy(), return_inverse=True
        )
        qid_u, q_qid_idx = np.unique(
            q_pdf["query_id"].to_numpy().astype("int64"),
            return_inverse=True,
        )
        dense_ok = len(tok_u) * len(qid_u) <= max_query_cells
    if len(q_pdf) == 0:
        # no query docs: identical to the old join-with-empty result
        scored = spark.createDataFrame(
            [], "query_id long, cand_id long, s long"
        )
    elif dense_ok:
        import numpy as np

        qp = np.zeros((len(tok_u), len(qid_u)))
        qp[q_tok_idx, q_qid_idx] = 1.0
        tok2row = {t: i for i, t in enumerate(tok_u.tolist())}
        bqb = spark.sparkContext.broadcast((tok2row, qid_u, qp))

        def _score(batches):
            import numpy as np
            import pandas as pd

            tok2row_b, qids, qp_b = bqb.value
            nt = qp_b.shape[0]
            cands, trows, tqs = [], [], []
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                rows = pdf["token"].map(tok2row_b)
                m = rows.notna().to_numpy()
                if not m.any():
                    continue
                cands.append(pdf["cand_id"].to_numpy()[m].astype("int64"))
                trows.append(rows.to_numpy()[m].astype("int64"))
                tqs.append(pdf["tq"].to_numpy()[m].astype("float64"))
            if not cands:
                return
            c = np.concatenate(cands)
            tr = np.concatenate(trows)
            tv = np.concatenate(tqs)
            # group this partition's postings by candidate: repartition
            # on cand_id above guarantees every posting of a candidate
            # is HERE, so each candidate's score is complete
            o = np.argsort(c, kind="stable")
            c, tr, tv = c[o], tr[o], tv[o]
            ucands, starts = np.unique(c, return_index=True)  # ASC ids
            bounds = np.append(starts, len(c))
            # candidate chunks bound the dense W tile at ~chunk_cells
            # whatever the partition holds (the _tile_topk budget); a
            # chunk never splits a candidate, so chunk-local top-k
            # stays exact
            chunk = max(1, chunk_cells // max(nt, 1))
            for lo in range(0, len(ucands), chunk):
                hi = min(lo + chunk, len(ucands))
                rlo, rhi = bounds[lo], bounds[hi]
                nc = hi - lo
                counts = bounds[lo + 1 : hi + 1] - bounds[lo:hi]
                ridx = np.repeat(np.arange(nc), counts)
                wmat = np.zeros((nc, nt))
                pres = np.zeros((nc, nt))
                wmat[ridx, tr[rlo:rhi]] = tv[rlo:rhi]
                pres[ridx, tr[rlo:rhi]] = 1.0
                s_mat = wmat @ qp_b  # integer-exact float64 sums
                cand_ok = (pres @ qp_b) > 0.0  # shares ≥ 1 token
                # c.doc_id <> query_id, as in the SQL
                cand_ok[ucands[lo:hi][:, None] == qids[None, :]] = False
                if not cand_ok.any():
                    continue
                sm = np.where(cand_ok, s_mat, -np.inf)
                kk = min(top, nc)
                # stable argsort on -s: candidate rows are ASC by
                # construction, so ties inherit the cand_id ASC
                # tie-break of the final total order
                topi = np.argsort(-sm, axis=0, kind="stable")[:kk]
                ssel = np.take_along_axis(sm, topi, axis=0)
                keep = np.isfinite(ssel)
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": np.tile(qids, (kk, 1))[keep],
                        "cand_id": ucands[lo:hi][topi][keep],
                        "s": ssel[keep].astype("int64"),
                    }
                )

        scored = wgt.mapInPandas(
            _score, schema="query_id long, cand_id long, s long"
        )
    else:
        # broadcast-join fallback (the pre-round-13 shape, verbatim):
        # the token join key has vocab-sized cardinality, so a shuffle
        # join on token caps parallelism at |vocab| and skews on hot
        # tokens; broadcasting bq keeps the fan-out map-side over the
        # postings' partitioning with map-side partial aggregation,
        # shuffling only the aggregated (query, cand) rows. For a
        # query set past even this, flip to an equi-join against a
        # df-pruned vocabulary.
        scored = (
            wgt.join(F.broadcast(bq), "token")
            .where(F.col("cand_id") != F.col("query_id"))
            .groupBy("query_id", "cand_id")
            .agg(F.sum("tq").alias("s"))
        )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top)
        .select("query_id", "cand_id", "rnk", "s")
    )


@query(
    "qt19_bm25_retrieval",
    oracle=f"""
WITH {bm25_sql_cte(3)}
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id,
       ROUND(s / 1e6, 6) + 0 AS bm25
FROM btop
ORDER BY query_id, rnk
""",
    scale_oracle=_qt19_scale_oracle,
    # the SQL scoring fan-out is Θ(|Q|·N) join rows into a |Q|·N-key
    # aggregate on the dense fixture vocabulary — ~1e9 rows / 45M
    # groups at the 6× tier (30k docs), which the row engine only
    # aggregates by spilling 40-80 GB of partitioned input (died twice
    # on transient disk headroom in full sweeps). sf0.1 (5k docs) runs
    # comfortably; 10k is the same measured edge as qm09/qd17.
    oracle_scale_bound=("documents", 10_000),
)
def qt19(spark, sf_dir):
    """Okapi BM25 top-3 retrieval: every 20th document queries the
    corpus with its own term set — the lexical ranking half of hybrid
    search and the retrieval scorer behind RAG corpus curation and
    hard-negative mining. Completes the registry's lexical-statistics
    ladder: qt12 scores documents by corpus-unigram likelihood, qm08
    by tf-idf weight, qm09 by tf-idf cosine — BM25 adds the saturated
    tf and length normalization that made it the IR default. The
    mechanism (df-damped term match with per-doc length norm) exists
    nowhere else in the registry; qv20 fuses these rankings with the
    embedding ANN side.

    Correctness/scale notes live on :func:`bm25_rankings`."""
    out = bm25_rankings(spark, sf_dir, 3)
    return out.select(
        "query_id",
        F.col("rnk").cast("long").alias("rnk"),
        "cand_id",
        (F.round(F.col("s") / 1e6, 6) + F.lit(0.0)).alias("bm25"),
    ).orderBy("query_id", "rnk")


def _qt20_sql_step(k: int) -> str:
    """One unrolled BPE merge: count adjacent symbol pairs weighted by
    word-type frequency, pick the (count DESC, pair ASC) argmax, merge
    its occurrences left-to-right in a single pass.

    The merge uses the doubled-delimiter REPLACE trick so back-to-back
    occurrences each get their own boundary spaces: double every
    space, replace the doubled-pattern, collapse double spaces back.
    A naive single REPLACE of ' a b ' would skip the second match in
    ' a b a b ' (the shared middle space is consumed by the first
    match); the doubled form merges both — exactly greedy one-pass
    BPE semantics, verified against a per-symbol reference merge on
    20k random cases ('a a a' still merges once, as BPE requires)."""
    prev = f"w{k - 1}"
    return f"""
p{k} AS (
  SELECT arr[i] || ' ' || arr[i + 1] AS pair, CAST(SUM(f) AS BIGINT) AS c
  FROM (SELECT f, string_split(trim(sym), ' ') AS arr FROM {prev}),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY pair
),
b{k} AS (
  SELECT pair, replace(pair, ' ', '') AS m, c
  FROM p{k} ORDER BY c DESC, pair LIMIT 1
),
w{k} AS (
  SELECT token, f,
         REPLACE(REPLACE(REPLACE(sym, ' ', '  '),
                 ' ' || replace(b{k}.pair, ' ', '  ') || ' ',
                 ' ' || b{k}.m || ' '),
                 '  ', ' ') AS sym
  FROM {prev}, b{k}
),
v{k} AS (
  SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS vocab,
         CAST(SUM(f) AS BIGINT) AS total
  FROM (SELECT f, unnest(string_split(trim(sym), ' ')) AS s FROM w{k})
)"""


@query(
    "qt20_bpe_merges",
    oracle=f"""
WITH freq AS (
  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT unnest({SQL_TOKS}) AS tok FROM documents)
  GROUP BY tok
),
w0 AS (
  SELECT token, f,
         ' ' || array_to_string(
           list_transform(generate_series(1, length(token)),
                          i -> token[i]), ' ') || ' ' AS sym
  FROM freq
),
{",".join(_qt20_sql_step(k) for k in (1, 2, 3))}
SELECT step, pair, merged, pair_count, vocab_size_after,
       corpus_symbols_after
FROM (
  SELECT CAST(1 AS BIGINT) AS step, b1.pair, b1.m AS merged,
         b1.c AS pair_count, v1.vocab AS vocab_size_after,
         v1.total AS corpus_symbols_after
  FROM b1, v1
  UNION ALL
  SELECT 2, b2.pair, b2.m, b2.c, v2.vocab, v2.total FROM b2, v2
  UNION ALL
  SELECT 3, b3.pair, b3.m, b3.c, v3.vocab, v3.total FROM b3, v3
)
ORDER BY step
""",
)
def qt20(spark, sf_dir):
    """Byte-pair-encoding vocabulary induction, three merge steps —
    the tokenizer-training core (Sennrich et al. 2016): start from
    characters over the corpus word-type table, repeatedly count
    adjacent symbol pairs weighted by word frequency, merge the most
    frequent pair, and report each learned merge with the vocabulary
    size and total corpus symbol count after it (the compression
    curve a tokenizer build monitors). The registry tokenizes and
    BUDGETS subwords elsewhere (qt06, qc03); this is the first query
    that LEARNS the subword inventory itself.

    Cross-engine exactness: pair counts are exact integer sums; the
    argmax is totally ordered (count DESC, pair ASC); and the merge
    is the doubled-delimiter REPLACE over the space-joined symbol
    string (double every space → replace the doubled pattern →
    collapse), which gives each adjacent occurrence its own boundary
    spaces and therefore matches greedy one-pass BPE exactly: in
    ' x y x y ' BOTH pairs merge (a naive single REPLACE would skip
    the second — the shared middle space is consumed by the first
    match), while an 'a a a' run still merges once, the fresh pair
    waiting for the next step. Verified against a per-symbol
    reference merge on 20k random symbol sequences; REPLACE's
    leftmost non-overlapping semantics are identical on both
    engines.

    Shape at scale: the 100-TB pass is the ONE word-frequency
    aggregation — everything after operates on the bounded word-TYPE
    table (the classic BPE trick), checkpointed once; each merge is a
    map-side REPLACE plus a pair-count aggregation over types, with
    the 1-row argmax collected and folded in as literals.
    Re-checkpointing the type table after every merge measured slower
    (interleaved A/B, round 13): the table is vocab-sized, so
    recomputing the short replace chain costs less than one
    checkpoint job per step."""
    from ml_data_wrangler_spark.operators._partition import (
        TOKENIZE_REPARTITION_MIN_BYTES,
    )

    wt = (
        # repartition raw text before the tokenize map (trap #1,
        # round 12; bytes-conditioned round 13 — same plain-tokenize
        # break-even as qt01, see ensure_parallelism.min_bytes)
        ensure_parallelism(
            t(spark, sf_dir, "documents").select("text"),
            min_bytes=TOKENIZE_REPARTITION_MIN_BYTES,
        )
        .select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("f"))
        .select(
            "token",
            "f",
            F.concat(
                F.lit(" "),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.length("token")),
                        lambda i: F.col("token").substr(i, F.lit(1)),
                    ),
                ),
                F.lit(" "),
            ).alias("sym"),
        )
        .localCheckpoint()
    )
    out_schema = (
        "step long, pair string, merged string, pair_count long, "
        "vocab_size_after long, corpus_symbols_after long"
    )
    steps = []
    for step in (1, 2, 3):
        arr = F.split(F.trim(F.col("sym")), " ")
        # single-symbol words contribute no pairs — and must be
        # filtered BEFORE the index transform because Spark's
        # sequence(0, size-2) DESCENDS when size = 1
        pairs = wt.where(F.size(arr) >= 2).select(
            "f",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(arr) - 2),
                    lambda i: F.concat(
                        F.element_at(arr, i + 1),
                        F.lit(" "),
                        F.element_at(arr, i + 2),
                    ),
                )
            ).alias("pair"),
        )
        # the argmax is ONE row — collect it and fold the merge
        # pattern in as string literals (round 12): the old loop
        # localCheckpoint-ed the 1-row argmax and crossJoin-broadcast
        # it into every word row, paying ~5 jobs per merge step for a
        # model-sized decision (same driver-side principle as qv18 /
        # qe33; the per-step wt checkpoints fall away with it because
        # wt is now a pure projection chain over the ONE checkpointed
        # word-type leaf)
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("f").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .limit(1)
            .collect()
        )
        if not best:
            # no pair anywhere (empty corpus or all-single-symbol
            # words): the old plan's empty-broadcast crossJoin
            # emptied every remaining step — emit nothing
            break
        pair, merged, cnt = best[0]["pair"], best[0]["pair"].replace(" ", ""), best[0]["c"]
        # doubled-delimiter merge (see _qt20_sql_step): double spaces,
        # replace the doubled pattern, collapse — so back-to-back
        # occurrences of the pair each merge in this pass
        wt = wt.select(
            "token",
            "f",
            F.replace(
                F.replace(
                    F.replace(F.col("sym"), F.lit(" "), F.lit("  ")),
                    F.lit(" " + pair.replace(" ", "  ") + " "),
                    F.lit(" " + merged + " "),
                ),
                F.lit("  "),
                F.lit(" "),
            ).alias("sym"),
        )
        sym_col = F.explode(F.split(F.trim(F.col("sym")), " ")).alias("s")
        stats = wt.select("f", sym_col).agg(
            F.count_distinct("s").alias("vocab"),
            F.sum("f").alias("total"),
        )
        steps.append(
            stats.select(
                F.lit(step).cast("long").alias("step"),
                F.lit(pair).alias("pair"),
                F.lit(merged).alias("merged"),
                F.lit(cnt).cast("long").alias("pair_count"),
                F.col("vocab").alias("vocab_size_after"),
                F.col("total").alias("corpus_symbols_after"),
            )
        )
    if not steps:
        return spark.createDataFrame([], out_schema)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")
