"""Text analysis over the documents table (SURVEY.md §2.G).

LLM-training-pipeline text operators: per-document statistics + quality
score, heuristic language ID, content fingerprinting, corpus token
histogram. All expressions are built-in Spark functions (whole-stage
codegen); nothing leaves the JVM.

Scale notes: text_stats/langid/fingerprint are pure map-side projections (no
shuffle at all — they scale linearly with input splits). The histogram is one
explode + aggregate (map-side partial counts) + top-N.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.text import (
    LANG_STOPWORDS,
    STOPWORDS,
    stopword_count,
    stopword_count_sql,
    tokens,
    tokens_sql,
)

PUNCT_RE = "[.,;:!?]"
TOP_TOKENS = 20


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats + a composite quality score.

    quality_score = 0.4·min(1, tokens/100) + 0.3·(1 − punct_ratio)
                  + 0.3·(1 − stopword_ratio)  — this engine's own formula
    (the reference has no text scoring; weights chosen for LLM-corpus
    filtering: enough length, low punctuation noise, low boilerplate).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    # NULLIF guards: empty / whitespace-only documents must yield NULL ratios
    # (not a DIVIDE_BY_ZERO abort — Spark 4 runs ANSI mode by default).
    # Identical NULLIF in the oracle keeps the engines bit-equal.
    chars_d = F.nullif(n_chars, F.lit(0))
    tokens_d = F.nullif(n_tokens, F.lit(0))
    no_punct = F.regexp_replace(F.col("text"), PUNCT_RE, "")
    punct_ratio = (n_chars - F.length(no_punct)).cast("double") / chars_d
    sw_ratio = stopword_count(toks).cast("double") / tokens_d
    avg_tok = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / tokens_d
    )
    quality = (
        0.4 * F.least(F.lit(1.0), n_tokens.cast("double") / 100.0)
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * (1.0 - sw_ratio)
    )
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(avg_tok, 9).alias("avg_token_len"),
        F.round(punct_ratio, 9).alias("punct_ratio"),
        F.round(sw_ratio, 9).alias("stopword_ratio"),
        F.round(quality, 9).alias("quality_score"),
    )


def _stats_sql() -> str:
    toks = tokens_sql("text")
    sw = stopword_count_sql(toks)
    return f"""
SELECT
  doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len({toks}) AS BIGINT) AS n_tokens,
  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / NULLIF(len({toks}), 0), 9)
    AS avg_token_len,
  round(CAST(length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))
        AS DOUBLE) / NULLIF(length(text), 0), 9) AS punct_ratio,
  round(CAST({sw} AS DOUBLE) / NULLIF(len({toks}), 0), 9) AS stopword_ratio,
  round(0.4 * least(1.0, CAST(len({toks}) AS DOUBLE) / 100.0)
      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))
               AS DOUBLE) / NULLIF(length(text), 0))
      + 0.3 * (1.0 - CAST({sw} AS DOUBLE) / NULLIF(len({toks}), 0)), 9) AS quality_score
FROM documents
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID → confusion matrix vs the labeled lang.

    Ties broken in fixed language order (en, fr, es, de, zh). Pure map-side
    classification + one small aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    langs = list(LANG_STOPWORDS)
    hits: dict[str, Column] = {
        lang: stopword_count(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*[hits[lang] for lang in langs])
    predicted = F.lit("unknown")
    for lang in reversed(langs):
        predicted = F.when((best > 0) & (hits[lang] == best), lang).otherwise(
            predicted
        )
    return (
        docs.select(F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )


def _langid_sql() -> str:
    toks = tokens_sql("text")
    langs = list(LANG_STOPWORDS)
    hit_exprs = {
        lang: stopword_count_sql(toks, words)
        for lang, words in LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hit_exprs[lang] for lang in langs) + ")"
    case = "CASE "
    for lang in langs:
        case += f"WHEN {best} > 0 AND {hit_exprs[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return f"""
SELECT labeled_lang, predicted_lang, COUNT(*) AS doc_count
FROM (SELECT lang AS labeled_lang, {case} AS predicted_lang FROM documents) t
GROUP BY labeled_lang, predicted_lang
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercased collapsed text)."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
    )


FINGERPRINT_SQL = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


def text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N corpus tokens: explode → partial-agg count → top-N."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .orderBy(F.desc("token_count"), F.asc("token"))
        .limit(TOP_TOKENS)
    )


def _histogram_sql() -> str:
    return f"""
SELECT token, COUNT(*) AS token_count
FROM (SELECT unnest({tokens_sql("text")}) AS token FROM documents) t
GROUP BY token
ORDER BY token_count DESC, token ASC
LIMIT {TOP_TOKENS}
"""


QUALITY_MIN = 0.8
TOKENS_MIN = 20


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filtering: keep documents passing quality thresholds — the
    decision step an LLM-data pipeline runs after scoring. Reuses the
    text_stats projection; the filter composes into the same single scan."""
    stats = text_stats(spark, sf_dir)
    return stats.filter(
        (F.col("quality_score") >= QUALITY_MIN) & (F.col("n_tokens") >= TOKENS_MIN)
    ).select("doc_id", "n_tokens", "quality_score")


def _quality_filter_sql() -> str:
    return f"""
SELECT doc_id, n_tokens, quality_score
FROM ({_stats_sql()}) s
WHERE quality_score >= {QUALITY_MIN} AND n_tokens >= {TOKENS_MIN}
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1:
    top n-gram fraction / duplicate n-gram fraction — the standard
    repetition filters an LLM corpus pipeline applies before training):

    - ``top_bigram_share``: occurrences of the document's most frequent
      2-gram over all its 2-gram occurrences;
    - ``dup_trigram_frac``: fraction of 3-gram occurrences that are repeats
      (1 − distinct/total).

    Plan: one posexplode → lead-window pass builds both gram columns
    codegen-side (same construction as dedup shingles — no interpreted array
    lambdas), the frame is cached once, and each metric is a (doc_id, gram)
    partial-aggregated count folded to a per-doc aggregate — map-side
    combinable both levels, no O(|doc|²) per-row work, so a 100k-token
    document costs the same per token as a 100-token one.
    """
    from pyspark.sql.window import Window

    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead1, lead2 = F.lead("t", 1).over(w), F.lead("t", 2).over(w)
    grams = tracked_cache(
        toks.select(
            "doc_id",
            F.when(lead1.isNotNull(), F.concat_ws(" ", F.col("t"), lead1)).alias(
                "bigram"
            ),
            F.when(
                lead2.isNotNull(), F.concat_ws(" ", F.col("t"), lead1, lead2)
            ).alias("trigram"),
        )
    )
    bi = (
        grams.filter(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c") / F.sum("c"), 9).alias("top_bigram_share"),
        )
    )
    tri = (
        grams.filter(F.col("trigram").isNotNull())
        .groupBy("doc_id", "trigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.round(1 - F.count(F.lit(1)) / F.sum("c"), 9).alias(
                "dup_trigram_frac"
            ),
        )
    )
    return bi.join(tri, "doc_id").select(
        "doc_id", "n_trigrams", "top_bigram_share", "dup_trigram_frac"
    )


def _repetition_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, t, CAST(pos AS BIGINT) AS pos
  FROM (SELECT doc_id, unnest({toks}) AS t,
               generate_subscripts({toks}, 1) AS pos
        FROM documents)
),
grams AS (
  SELECT doc_id,
         CASE WHEN lead(t, 1) OVER w IS NOT NULL
              THEN t || ' ' || lead(t, 1) OVER w END AS bigram,
         CASE WHEN lead(t, 2) OVER w IS NOT NULL
              THEN t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w
         END AS trigram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
bi AS (
  SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 9) AS top_bigram_share
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM grams
        WHERE bigram IS NOT NULL GROUP BY doc_id, bigram)
  GROUP BY doc_id
),
tri AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
         ROUND(1 - COUNT(*) * 1.0 / SUM(c), 9) AS dup_trigram_frac
  FROM (SELECT doc_id, trigram, COUNT(*) AS c FROM grams
        WHERE trigram IS NOT NULL GROUP BY doc_id, trigram)
  GROUP BY doc_id
)
SELECT bi.doc_id, tri.n_trigrams, bi.top_bigram_share, tri.dup_trigram_frac
FROM bi JOIN tri ON bi.doc_id = tri.doc_id
"""


# BPE-ish pre-tokenizer: GPT-2-style piece regex reduced to the ASCII
# classes the corpus contains (letter runs, digit runs, punctuation runs,
# each absorbing one leading space; whitespace runs). Pure-ASCII classes
# keep Java-regex and RE2 semantics identical.
BPE_PIECE_RE = " ?[a-z]+| ?[A-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +"


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish piece regex vs whitespace tokens —
    the sizing pass an LLM pipeline runs to budget training tokens (a
    whitespace count under-estimates what a subword tokenizer produces).
    Map-side projection, no shuffle; `chars_per_piece` is the compression
    proxy."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PIECE_RE), 0)
    n_pieces = F.size(pieces)
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ws_tokens"),
        n_pieces.cast("bigint").alias("bpe_pieces"),
        F.round(
            F.length("text").cast("double") / F.nullif(n_pieces, F.lit(0)), 9
        ).alias("chars_per_piece"),
    )


TOKEN_COUNT_BPE_SQL = f"""
SELECT doc_id,
       CAST(len({tokens_sql("text")}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PIECE_RE}')) AS BIGINT)
         AS bpe_pieces,
       ROUND(CAST(length(text) AS DOUBLE) /
             NULLIF(len(regexp_extract_all(text, '{BPE_PIECE_RE}')), 0), 9)
         AS chars_per_piece
FROM documents
"""

TFIDF_TOP_K = 3


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction via TF-IDF: each document's top-K
    terms by tf · ln(N/df) — the classic salience score (raw counts rank
    boilerplate; idf suppresses corpus-wide terms without a stopword
    list). The per-doc keyword set is the cheap document representation
    for tagging/routing/weak topic labels.

    Plan: ONE token explode → (doc, token) tf counts (map-side
    combinable); document frequency is a count window over that SAME tf
    frame partitioned by token (tf has one row per (doc, token), so rows
    per token = df) — the corpus is scanned and tokenized exactly once,
    where a tf↔df aggregate join would re-run scan+explode for the second
    branch (measured: two Generate subtrees, no exchange reuse). N comes
    from parquet row-group statistics. The rank window partitions by
    doc_id — partition size = per-doc vocabulary, never the corpus.
    Scores round at 9 so the ln product is engine-stable.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    score = F.round(
        F.col("tf")
        * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
        9,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "token", "tf", "df", "score")
    )


def _tfidf_sql() -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({tokens_sql("text")}) AS token FROM documents)
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         ROUND(tf.tf * ln(n.n_docs / CAST(dfreq.df AS DOUBLE)), 9) AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id, rank, token, tf, df, score FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token ASC) AS BIGINT) AS rank
  FROM scored
) t WHERE rank <= {TFIDF_TOP_K}
"""


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility table: BPE-ish pieces per
    whitespace word and chars per piece, aggregated by language — the
    multilingual budgeting numbers (fertility > ~2 pieces/word means the
    tokenizer fragments that language; its documents cost more sequence
    length per unit text, the standard argument for vocab/mixture
    rebalancing in multilingual training reports).

    One map-side projection (both token counts in-scan, no shuffle before
    the |langs|-row aggregate); ratios derive from exact-decimal sums so
    the per-language division is engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(BPE_PIECE_RE), 0)
    )
    dec = "decimal(30,6)"
    agg = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("ws"),
        pieces.alias("bp"),
        F.length("text").alias("ch"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ws").cast(dec)).cast("bigint").alias("ws_tokens"),
        F.sum(F.col("bp").cast(dec)).cast("bigint").alias("bpe_pieces"),
        F.sum(F.col("ch").cast(dec)).cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_pieces",
        "n_chars",
        F.round(
            F.col("bpe_pieces").cast("double") / F.col("ws_tokens"), 9
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("bpe_pieces"), 9
        ).alias("chars_per_piece"),
    )


TOKENIZER_FERTILITY_SQL = f"""
WITH agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(CAST(len({tokens_sql("text")}) AS DECIMAL(30,6)))
              AS BIGINT) AS ws_tokens,
         CAST(SUM(CAST(len(regexp_extract_all(text, '{BPE_PIECE_RE}'))
                       AS DECIMAL(30,6))) AS BIGINT) AS bpe_pieces,
         CAST(SUM(CAST(length(text) AS DECIMAL(30,6))) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, ws_tokens, bpe_pieces, n_chars,
       ROUND(CAST(bpe_pieces AS DOUBLE) / ws_tokens, 9) AS fertility,
       ROUND(CAST(n_chars AS DOUBLE) / bpe_pieces, 9) AS chars_per_piece
FROM agg
"""


# Rabin–Karp-style rolling hash: base-31 polynomial over per-token md5
# hashes, mod 2^31−1. Intermediates stay < 2^36 (31·(2^31−1) + 2^28), so
# the fold is exact in int64 on both engines.
_ROLL_MOD = 2_147_483_647  # 2^31 − 1
_ROLL_BASE = 31


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint via a polynomial rolling hash
    over token hashes (Rabin–Karp construction) — unlike the md5
    fingerprint, two documents with the same bag of tokens in different
    order hash differently, and the rolling form is the building block of
    content-defined chunking.

    The fold is a sequential per-document reduce (`F.aggregate`); per-row
    work is O(tokens) with no shuffle. DuckDB's `list_reduce` seeds from
    the first element, which equals a zero-seeded fold, so both engines
    produce identical values; empty token lists pin to 0 explicitly.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast(  # noqa: E731
        "bigint"
    )
    rolled = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * _ROLL_BASE + tok_hash(t)) % _ROLL_MOD,
    )
    fp = F.when(F.size(toks) == 0, F.lit(0).cast("bigint")).otherwise(rolled)
    return docs.select("doc_id", fp.alias("rolling_fp"))


ROLLING_FP_SQL = f"""
SELECT doc_id,
  CASE WHEN len(toks) = 0 THEN 0
       ELSE list_reduce(
              list_transform(toks,
                t -> CAST(('0x' || substring(md5(t), 1, 7)) AS BIGINT)),
              (acc, h) -> (acc * {_ROLL_BASE} + h) % {_ROLL_MOD})
  END AS rolling_fp
FROM (SELECT doc_id, {tokens_sql("text")} AS toks FROM documents) t
"""


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM fluency score per document — the
    perplexity-proxy quality signal (CCNet-style: docs whose token
    distribution diverges from the corpus LM are boilerplate/noise
    candidates). Emits mean token log-probability and the perplexity
    proxy exp(−mean); unsmoothed MLE is total because the LM is trained
    on the scored corpus itself.

    Plan: one explode builds token rows; the LM (vocab × count, bounded
    by vocabulary, not corpus) aggregates map-side-combinably and comes
    BACK as a broadcast join — token rows never shuffle for the lookup;
    the only data-sized shuffle is the final groupBy(doc_id). Per-doc
    log-prob sums accumulate in DECIMAL so the mean is partition-order
    independent (double summation would hash-drift between engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks_rows = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    vocab = toks_rows.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    lm = vocab.join(F.broadcast(total)).select(
        "t",
        F.log(F.col("cnt").cast("double") / F.col("n_total")).alias("logp"),
    )
    per_doc = (
        toks_rows.join(F.broadcast(lm), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("logp").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_logp"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias(
            "n_tokens"
        ),
        F.round("mean_logp", 9).alias("mean_logp"),
        F.round(F.exp(-F.col("mean_logp")), 6).alias("ppl_proxy"),
    )


def _lm_score_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH tr AS (SELECT doc_id, unnest({toks}) AS t FROM documents),
vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
lm AS (SELECT t, ln(CAST(cnt AS DOUBLE) / n_total) AS logp FROM vocab, tot),
pd AS (
  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(SUM(CAST(logp AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mean_logp
  FROM tr JOIN lm USING (t) GROUP BY tr.doc_id
)
SELECT d.doc_id,
  COALESCE(pd.n_tokens, 0) AS n_tokens,
  ROUND(pd.mean_logp, 9) AS mean_logp,
  ROUND(exp(-pd.mean_logp), 6) AS ppl_proxy
FROM (SELECT doc_id FROM documents) d
LEFT JOIN pd ON pd.doc_id = d.doc_id
"""




# --------------------------------------------------------- char entropy

# bounded alphabet for in-row distribution stats (lowercase corpus)
_ALPHABET = "abcdefghijklmnopqrstuvwxyz "
LOW_ENTROPY_T = 2.5  # nats; natural text sits ~2.8-3.1, gibberish below


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    gibberish / encoding-damage / keyboard-mash detector (CCNet and Gopher
    both gate on character statistics before any model scoring). Natural
    language has near-stationary letter frequencies (≈2.8-3.1 nats for
    English); repeated-pattern junk collapses toward 0.

    Entirely IN-ROW over a bounded alphabet: each letter's count is
    length(text) − length(replace(text, letter)), a map-side codegen
    expression, and the 27-term entropy fold is a FIXED expression tree —
    identical literal double arithmetic in both engines, no aggregation,
    no shuffle, nothing transcendental crossing a merge boundary. Zero
    Exchanges in the plan.

    The synthetic corpus is uniformly healthy, so every doc_id % 13 == 0
    is REPLACED by a repeated two-letter pattern in-query (both engines) —
    the detector must flag exactly those.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    txt = F.when(
        F.col("doc_id") % 13 == 0, F.lit("ab " * 40)
    ).otherwise(F.col("text"))
    # counts live in ONE array so every downstream reference is to the
    # array element, not a re-inlined copy of the count expression — the
    # naive named-expression form re-substitutes the 27 replace() trees
    # into every entropy term (CollapseProject) and blows the janino
    # method limit (observed: codegen fallback + 4.6 MiB task binary).
    arr = F.array(
        *[
            (F.length(txt) - F.length(F.replace(txt, F.lit(ch)))).cast(
                "double"
            )
            for ch in _ALPHABET
        ]
    )
    zero = F.lit(0.0)
    total = F.aggregate(arr, zero, lambda a, x: a + x)
    ent = F.aggregate(
        arr,
        zero,
        lambda a, x: a
        + F.when(x > 0, -(x / total) * F.log(x / total)).otherwise(zero),
    )
    distinct = F.aggregate(
        arr, F.lit(0), lambda a, x: a + (x > 0).cast("int")
    )
    return docs.select(
        "doc_id",
        total.cast("bigint").alias("alpha_chars"),
        distinct.cast("bigint").alias("distinct_chars"),
        F.round(ent, 9).alias("char_entropy"),
        (ent < LOW_ENTROPY_T).alias("is_low_entropy"),
    )


def _char_entropy_sql() -> str:
    txt = "CASE WHEN doc_id % 13 = 0 THEN repeat('ab ', 40) ELSE text END"
    counts = [
        f"CAST(LENGTH({txt}) - LENGTH(REPLACE({txt}, '{ch}', '')) AS DOUBLE)"
        for ch in _ALPHABET
    ]
    cols = ",\n  ".join(f"{c} AS c{i}" for i, c in enumerate(counts))
    total = " + ".join(f"c{i}" for i in range(len(counts)))
    ent = " + ".join(
        f"CASE WHEN c{i} > 0 THEN -(c{i} / total) * LN(c{i} / total) "
        f"ELSE 0.0 END"
        for i in range(len(counts))
    )
    distinct = " + ".join(
        f"CAST(c{i} > 0 AS INTEGER)" for i in range(len(counts))
    )
    return f"""
WITH c AS (
  SELECT doc_id,
  {cols}
  FROM documents
),
t AS (SELECT *, ({total}) AS total FROM c)
SELECT doc_id, CAST(total AS BIGINT) AS alpha_chars,
       CAST({distinct} AS BIGINT) AS distinct_chars,
       ROUND({ent}, 9) AS char_entropy,
       (({ent}) < {LOW_ENTROPY_T}) AS is_low_entropy
FROM t
"""



# ------------------------------------------------------- PMI co-occurrence

PMI_MIN_SUPPORT = 5
PMI_TOP_K = 20
PMI_VOCAB_MAX = 1000  # co-occurrence fan-out gate: only top-V tokens pair


def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K token pairs by NPMI (normalized pointwise mutual information)
    over document co-occurrence — the classic collocation / related-terms
    statistic (Church & Hanks 1990) behind phrase mining and topic seeds.
    NPMI ∈ [−1, 1] corrects raw PMI's low-frequency bias; support filters
    noise pairs.

    Scale: co-occurrence is quadratic in per-doc DISTINCT tokens, so the
    pair expansion is gated on a broadcast top-V vocabulary (df-ranked) —
    the standard guard that keeps a 100 TB corpus's fan-out bounded by
    V·doc_len instead of doc_len². Pairs expand in-array per doc
    (dedup._bucket_pairs: one pass, JVM array ops), then ONE pair groupBy;
    doc frequencies broadcast back onto the |pairs| aggregate, PMI/NPMI
    arithmetic never touches data-sized frames.
    """
    from pyspark.sql.window import Window

    from ..plans.cache import release_caches, tracked_cache
    from .dedup import _bucket_pairs

    release_caches()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r9 rework (guide §2): per-doc DISTINCT token sets built IN-ARRAY
    # (sort_array∘array_distinct — whole-stage codegen, zero exchange)
    # and cached once for both consumers. The previous plan materialized
    # explode→distinct TWICE (df branch + gate branch; one full exchange
    # each) plus a collect_set groupBy(doc_id) exchange to rebuild the
    # very arrays this starts from.
    ts0 = tracked_cache(
        docs.select(
            "doc_id",
            F.sort_array(F.array_distinct(tokens(F.col("text")))).alias(
                "ts"
            ),
        )
    )
    dfreq = (
        ts0.select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    vocab = (
        dfreq.orderBy(F.desc("df"), F.asc("t"))
        .limit(PMI_VOCAB_MAX)
        .select("t", "df")
    )
    n_docs = docs.count()
    # vocabulary gate as one in-row array_intersect against the ≤V-token
    # vocab array (sorted input → sorted intersection, so the pair
    # expansion sees exactly the old sort_array(collect_set) order)
    vocab_arr = vocab.agg(F.collect_list("t").alias("vs"))
    # the gated array is PROJECTED before the explode: Generate
    # re-evaluates its input expression per OUTPUT row, so leaving the
    # array_intersect inline under _bucket_pairs re-ran it once per pair
    # (measured 2.4 → 1.35 s steady at sf0.1 for this stage).
    gated = ts0.crossJoin(F.broadcast(vocab_arr)).select(
        F.array_intersect(F.col("ts"), F.col("vs")).alias("gt")
    )
    pairs = (
        gated.select(F.explode(_bucket_pairs(F.col("gt"))).alias("p"))
        .groupBy(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= PMI_MIN_SUPPORT)
    )
    da = F.broadcast(
        vocab.select(F.col("t").alias("tok_a"), F.col("df").alias("df_a"))
    )
    db = F.broadcast(
        vocab.select(F.col("t").alias("tok_b"), F.col("df").alias("df_b"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = F.lit(float(n_docs))
    pmi = F.log(n * d("support") / (d("df_a") * d("df_b")))
    npmi = pmi / -F.log(d("support") / n)
    scored = (
        pairs.join(da, "tok_a")
        .join(db, "tok_b")
        .withColumn("npmi", F.round(npmi, 9))
        .withColumn("pmi", F.round(pmi, 9))
    )
    # top-K via TakeOrderedAndProject (the global ranking window sorted
    # the WHOLE pair frame on one partition); the row_number re-rank then
    # runs over ≤K rows. The total order (npmi, tok_a, tok_b) is unique
    # per pair, so limit-then-rank picks identical rows and ranks.
    order = [F.desc("npmi"), F.asc("tok_a"), F.asc("tok_b")]
    w = Window.orderBy(*order)
    return (
        scored.orderBy(*order)
        .limit(PMI_TOP_K)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("rank", "tok_a", "tok_b", "support", "pmi", "npmi")
    )


def _pmi_sql() -> str:
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({tokens_sql("text")}) AS t FROM documents
),
dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY t),
vocab AS (SELECT t, df FROM dfreq ORDER BY df DESC, t ASC LIMIT {PMI_VOCAB_MAX}),
gated AS (SELECT tok.doc_id, tok.t FROM tok JOIN vocab USING (t)),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
pairs AS (
  SELECT a.t AS tok_a, b.t AS tok_b, CAST(COUNT(*) AS BIGINT) AS support
  FROM gated a JOIN gated b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY a.t, b.t
  HAVING COUNT(*) >= {PMI_MIN_SUPPORT}
),
scored AS (
  SELECT tok_a, tok_b, support,
    ROUND(LN(n.n_docs * CAST(support AS DOUBLE)
             / (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE))), 9) AS pmi,
    ROUND(LN(n.n_docs * CAST(support AS DOUBLE)
             / (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE)))
          / -LN(CAST(support AS DOUBLE) / n.n_docs), 9) AS npmi
  FROM pairs
  JOIN vocab va ON va.t = tok_a
  JOIN vocab vb ON vb.t = tok_b
  CROSS JOIN n
)
SELECT rank, tok_a, tok_b, support, pmi, npmi FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    ORDER BY npmi DESC, tok_a ASC, tok_b ASC) AS BIGINT) AS rank
  FROM scored
) t WHERE rank <= {PMI_TOP_K}
"""



# ------------------------------------------------------- vocab coverage

# Candidate tokenizer vocabulary sizes: what fraction of all token
# OCCURRENCES does a top-N vocabulary cover (the out-of-vocabulary /
# byte-fallback rate is 1 − coverage) — the table that sizes a tokenizer.
COVERAGE_LEVELS = (100, 500, 1000, 5000, 10000)


def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve for vocabulary sizing: for each candidate
    vocab size N, the corpus token share covered by the N most frequent
    types (ties broken lexically) and the implied OOV rate. Zipf says the
    curve saturates fast; WHERE it saturates is the vocab-size decision
    (`text_zipf_fit` fits the law, this reads the budget off it).

    Plan: one token groupBy, global frequency rank via the §6 TWO-LEVEL
    parallel prefix (`plans/prefix.py` — a raw vocabulary is 10⁸-10⁹ rows
    at 100 TB, never a single-partition window), then ONE conditional
    aggregate emits every level via inline (the §6 single-aggregate
    report rule).
    """
    from ..plans.cache import release_caches
    from ..plans.prefix import two_level_prefix

    release_caches()
    docs = load_table(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = two_level_prefix(
        counts, [F.desc("cnt"), F.asc("t")], out_col="rank"
    )
    agg = ranked.agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        *[
            F.sum(F.when(F.col("rank") <= n, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias(f"c{n}")
            for n in COVERAGE_LEVELS
        ],
    )
    entries = [
        F.struct(
            F.lit(n).cast("bigint").alias("vocab_size"),
            F.col(f"c{n}").alias("covered_tokens"),
            F.round(F.col(f"c{n}") / F.col("n_total").cast("double"), 9).alias(
                "coverage"
            ),
            F.round(
                1.0 - F.col(f"c{n}") / F.col("n_total").cast("double"), 9
            ).alias("oov_rate"),
            F.col("n_types").alias("total_types"),
        )
        for n in COVERAGE_LEVELS
    ]
    return agg.select(F.inline(F.array(*entries)))


def _vocab_coverage_sql() -> str:
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN rank <= {n} THEN cnt ELSE 0 END) AS BIGINT)"
        f" AS c{n}"
        for n in COVERAGE_LEVELS
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT CAST({n} AS BIGINT) AS vocab_size, c{n} AS covered_tokens,"
        f" ROUND(c{n} / CAST(n_total AS DOUBLE), 9) AS coverage,"
        f" ROUND(1.0 - c{n} / CAST(n_total AS DOUBLE), 9) AS oov_rate,"
        f" n_types AS total_types FROM agg"
        for n in COVERAGE_LEVELS
    )
    return f"""
WITH counts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({tokens_sql("text")}) AS t FROM documents)
  GROUP BY t
),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS rank
  FROM counts
),
agg AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_types, {sums}
  FROM ranked
)
{branches}
"""


# --------------------------------------------------------- vocab growth

VOCAB_LEVELS = 10  # corpus fractions 10%..100%


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-token count at nested
    10%..100% corpus samples — the statistic behind tokenizer-vocab and
    OOV budgeting (vocabulary grows ~nᵝ, β≈0.5-0.7; if it doesn't bend,
    the corpus is template spam). Samples NEST (each level contains the
    previous) via the deterministic doc-hash bucket, so the curve is
    monotone by construction.

    Single-pass trick: a token is IN the level-k vocabulary iff its
    MINIMUM doc-bucket ≤ k, so one (token → min bucket) aggregate + a
    ≤|vocab|-row bucket histogram + running sum yields every level —
    ONE scan total, instead of the naive L scans with L distinct-counts.
    """
    from ..functions.hashing import portable_hash64
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = (
        portable_hash64(F.concat(F.lit("vg_"), F.col("doc_id").cast("string")))
        % VOCAB_LEVELS
    ) + 1
    tok = docs.select(
        bucket.alias("b"), F.explode(tokens(F.col("text"))).alias("t")
    )
    first_seen = tok.groupBy("t").agg(F.min("b").alias("min_b"))
    hist = first_seen.groupBy("min_b").agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    # docs per level ride along so the curve has its x-axis
    doc_hist = docs.select(bucket.alias("min_b")).groupBy("min_b").agg(
        F.count(F.lit(1)).alias("new_docs")
    )
    w = Window.orderBy("level").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.join(doc_hist, "min_b", "full")
        .select(
            F.col("min_b").alias("level"),
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
            F.coalesce("new_docs", F.lit(0)).alias("new_docs"),
        )
        .withColumn("vocab_size", F.sum("new_tokens").over(w).cast("bigint"))
        .withColumn("n_docs", F.sum("new_docs").over(w).cast("bigint"))
        .select(
            F.col("level").cast("bigint").alias("level"),
            "n_docs",
            "vocab_size",
            F.col("new_tokens").cast("bigint").alias("new_tokens"),
        )
    )


def _vocab_growth_sql() -> str:
    from ..functions.hashing import portable_hash64_sql

    key = "'vg_' || CAST(doc_id AS VARCHAR)"
    b = f"({portable_hash64_sql(key)} % {VOCAB_LEVELS}) + 1"
    return f"""
WITH tok AS (
  SELECT {b} AS b, unnest({tokens_sql("text")}) AS t FROM documents
),
first_seen AS (SELECT t, MIN(b) AS min_b FROM tok GROUP BY t),
hist AS (SELECT min_b, CAST(COUNT(*) AS BIGINT) AS new_tokens
         FROM first_seen GROUP BY min_b),
doc_hist AS (SELECT {b} AS min_b, CAST(COUNT(*) AS BIGINT) AS new_docs
             FROM documents GROUP BY 1),
merged AS (
  SELECT COALESCE(h.min_b, d.min_b) AS level,
         COALESCE(h.new_tokens, 0) AS new_tokens,
         COALESCE(d.new_docs, 0) AS new_docs
  FROM hist h FULL JOIN doc_hist d ON h.min_b = d.min_b
)
SELECT CAST(level AS BIGINT) AS level,
       CAST(SUM(new_docs) OVER (ORDER BY level
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_docs,
       CAST(SUM(new_tokens) OVER (ORDER BY level
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS vocab_size,
       CAST(new_tokens AS BIGINT) AS new_tokens
FROM merged
"""



# ------------------------------------------------------------- Zipf fit


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency distribution: the
    least-squares slope of log(freq) on log(rank) — natural language sits
    near −1; a much flatter slope means template spam, a much steeper one
    a degenerate vocabulary. The companion diagnostic to
    `text_vocab_growth`'s Heaps curve (the two laws are duals).

    Plan: one token groupBy, then the global rank via the §6 TWO-LEVEL
    parallel prefix (`plans/prefix.py`) — a raw-token vocabulary is
    10⁸–10⁹ rows at 100 TB, so a partition-less row_number window (which
    sorts the whole vocabulary on one core) is not an option; the OLS
    needs every rank, so TakeOrderedAndProject doesn't apply either.
    Closed-form OLS from decimal-summed rounded log terms
    (partition-order-free), slope and intercept in identical double
    expression trees both engines.
    """
    from ..plans.cache import release_caches
    from ..plans.prefix import two_level_prefix

    release_caches()
    docs = load_table(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    dec = "decimal(38,12)"
    terms = two_level_prefix(
        counts, [F.desc("cnt"), F.asc("t")], out_col="rank"
    ).select(
        F.round(lx, 12).cast(dec).alias("x"),
        F.round(ly, 12).cast(dec).alias("y"),
        F.round(lx * lx, 12).cast(dec).alias("xx"),
        F.round(lx * ly, 12).cast(dec).alias("xy"),
    )
    agg = terms.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col("n").cast("bigint").alias("vocab_size"),
        F.round(slope, 9).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 9
        ).alias("log_intercept"),
    )


ZIPF_SQL = f"""
WITH counts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({tokens_sql("text")}) AS t FROM documents)
  GROUP BY t
),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS rank
  FROM counts
),
terms AS (
  SELECT
    CAST(ROUND(LN(CAST(rank AS DOUBLE)), 12) AS DECIMAL(38,12)) AS x,
    CAST(ROUND(LN(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(38,12)) AS y,
    CAST(ROUND(LN(CAST(rank AS DOUBLE)) * LN(CAST(rank AS DOUBLE)), 12)
         AS DECIMAL(38,12)) AS xx,
    CAST(ROUND(LN(CAST(rank AS DOUBLE)) * LN(CAST(cnt AS DOUBLE)), 12)
         AS DECIMAL(38,12)) AS xy
  FROM ranked
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(xx) AS DOUBLE) AS sxx, CAST(SUM(xy) AS DOUBLE) AS sxy
  FROM terms
)
SELECT CAST(n AS BIGINT) AS vocab_size,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS zipf_slope,
  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
    AS log_intercept
FROM agg
"""

# ------------------------------------------------------------- BM25 search

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# Fixed lexical query workload (query_id → terms). `dup` is the one rare
# token in the synthetic vocabulary (df ≈ 5%), so query 3 exercises the
# high-idf path; 1/2 rank near-ubiquitous terms, where the score is decided
# by tf × the k1/b length normalization rather than idf.
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    1: ("spark", "window", "sort"),
    2: ("join", "filter", "scan"),
    3: ("dup", "table"),
}


# BM25 corpus statistics (n_docs, Σdl, per-term df) are INDEX STATE — the
# quantities a search engine persists alongside its postings. Memoized per
# (lake, documents content fingerprint, workload term set) and persisted
# through plans/index_store like the IVF quantizer: a warmed session skips
# the full-corpus stats aggregate and the df aggregate entirely (at 100 TB
# that is the whole-corpus tokenize+count pass).
_BM25_STATS_CACHE: dict[tuple, dict] = {}
_BM25_STATS_LOCK = threading.Lock()


def _bm25_workload_terms(
    queries: dict[int, tuple[str, ...]]
) -> tuple[str, ...]:
    return tuple(sorted({t for ts in queries.values() for t in ts}))


def _bm25_store_key(
    sf_dir: str, queries: dict[int, tuple[str, ...]] | None = None
) -> tuple:
    from ..sources.file_lake import table_fingerprint

    lake = sf_dir.rstrip("/")
    return (
        lake,
        table_fingerprint(lake, "documents"),
        _bm25_workload_terms(BM25_QUERIES if queries is None else queries),
    )


def _bm25_store_keys(sf_dir: str) -> list[tuple]:
    """Every fixed BM25 workload's store key (the search operator's and
    the hybrid-retrieval lexical leg's) — enumerated for index gc."""
    from .similarity import HYBRID_QUERIES

    return [
        _bm25_store_key(sf_dir, BM25_QUERIES),
        _bm25_store_key(sf_dir, HYBRID_QUERIES),
    ]


def _train_bm25_stats(toks: DataFrame, tf: DataFrame) -> dict:
    srow = toks.select(
        F.size("toks").cast("bigint").alias("dl")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("dl").cast("decimal(30,6)")).alias("sum_dl"),
    ).collect()[0]
    dfrows = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    ).collect()
    return {
        "n_docs": int(srow["n_docs"]),
        "sum_dl": str(srow["sum_dl"]),
        "df": {r["token"]: int(r["df"]) for r in dfrows},
    }


def _bm25_index_stats(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[int, tuple[str, ...]],
    toks: DataFrame,
    tf: DataFrame,
) -> dict:
    """{"n_docs": int, "sum_dl": str-decimal, "df": {token: int}} for the
    (lake, workload). Cold: two bounded aggregates (1-row corpus stats,
    ≤|terms|-row df) collected and persisted; warm: zero jobs. Decimal
    sum_dl round-trips as a string so the warmed avgdl is bit-identical.
    """
    key = _bm25_store_key(sf_dir, queries)
    with _BM25_STATS_LOCK:
        hit = _BM25_STATS_CACHE.get(key)
    if hit is not None:
        return hit
    from ..plans import index_store

    model = index_store.try_read_model(index_store.BM25_STATS, key)
    if model is None:
        model = _train_bm25_stats(toks, tf)
        index_store.write_model(model, index_store.BM25_STATS, key)
    with _BM25_STATS_LOCK:
        _BM25_STATS_CACHE[key] = model
    return model


def bm25_scores(
    spark: SparkSession, sf_dir: str, queries: dict[int, tuple[str, ...]]
) -> DataFrame:
    """(query_id, doc_id, score) BM25 relevance — Robertson/Sparck Jones
    probabilistic idf (ln(1 + (N−df+0.5)/(df+0.5))) with k1/b term-frequency
    saturation and length normalization. Shared by `text_bm25_search` and
    the hybrid-retrieval fusion (similarity.ann_hybrid_search).

    Scale shape: the corpus is tokenized ONCE; the explode is gated
    map-side to the (constant-size) union of query terms BEFORE the
    (doc, token) groupBy, so the only corpus-sized shuffle carries rows
    that actually match a query term. df / N / Σdl are persisted INDEX
    STATISTICS (`_bm25_index_stats` — memoized per lake fingerprint +
    workload, plans/index_store): cold they collect from the tf frame
    (df = rows per token) and one full-corpus 1-row aggregate; warm they
    re-enter the plan as LocalRelations with zero jobs — at 100 TB the
    corpus-stats pass is exactly what a search engine persists beside
    its postings. Per-term scores round at 9 and sum on the
    decimal(20,9) lattice, so the (query, doc) total is order-independent
    and the rank comparison below is exact in both engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    # Inline VALUES (a JVM LocalRelation), not createDataFrame: the Python
    # path plans a LogicalRDD whose every task forks a Python worker —
    # measured multi-second first-run overhead for a constant 8-row frame.
    vals = ", ".join(
        f"(CAST({q} AS BIGINT), '{t}')"
        for q, ts in sorted(queries.items())
        for t in ts
    )
    terms = spark.sql(
        f"SELECT query_id, token FROM (VALUES {vals}) AS t(query_id, token)"
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    # dl rides through the explode (constant per doc, folded back with max)
    # so the corpus is scanned once for the match side — a separate dl
    # branch would re-scan and re-join the whole table just to attach one
    # int; only the 1-row stats aggregate pays a second (map-side) pass.
    # The postings frame is CACHED: it feeds both the scoring join and the
    # df aggregate, and an uncached plan re-runs the scan+tokenize+explode
    # for the second consumer (two Generate subtrees, no exchange reuse).
    # Its size is the query terms' posting lists — exactly what a search
    # engine materializes — never the corpus.
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    tf = tracked_cache(
        toks.select(
            "doc_id",
            F.size("toks").cast("bigint").alias("dl"),
            F.explode("toks").alias("token"),
        )
        .filter(F.col("token").isin(all_terms))
        .groupBy("doc_id", "token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.max("dl").alias("dl"),
        )
    )
    # df / N / Σdl come from the persisted index statistics (zero jobs in
    # a warmed session; the cold build collects the same two bounded
    # aggregates this plan used to embed) and re-enter the plan as
    # LocalRelations — bit-identical values either way.
    model = _bm25_index_stats(spark, sf_dir, queries, toks, tf)
    stats = spark.sql(
        f"SELECT CAST({model['n_docs']} AS BIGINT) AS n_docs, "
        f"CAST('{model['sum_dl']}' AS DECIMAL(30,6)) AS sum_dl"
    )
    if model["df"]:
        dvals = ", ".join(
            f"('{t}', CAST({d} AS BIGINT))"
            for t, d in sorted(model["df"].items())
        )
        dfreq = spark.sql(
            f"SELECT token, df FROM (VALUES {dvals}) AS t(token, df)"
        )
    else:  # no query term occurs in the corpus — empty postings
        dfreq = spark.sql(
            "SELECT CAST(NULL AS STRING) AS token, "
            "CAST(NULL AS BIGINT) AS df"
        ).filter(F.lit(False))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfnorm = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
    )
    return (
        tf.join(F.broadcast(terms), "token")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tfnorm, 9).cast("decimal(20,9)").alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )


def bm25_sql_ctes(queries: dict[int, tuple[str, ...]]) -> str:
    """DuckDB CTE chain mirroring :func:`bm25_scores`; terminates in a
    `bm25(query_id, doc_id, score)` CTE (decimal score, exact)."""
    vals = ", ".join(
        f"(CAST({q} AS BIGINT), '{t}')"
        for q, ts in sorted(queries.items())
        for t in ts
    )
    in_list = ", ".join(
        f"'{t}'" for t in sorted({t for ts in queries.values() for t in ts})
    )
    return f"""qterms(query_id, token) AS (VALUES {vals}),
toks AS (SELECT doc_id, {tokens_sql("text")} AS toks FROM documents),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 SUM(CAST(len(toks) AS DECIMAL(30,6))) AS sum_dl FROM toks),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
         MAX(dl) AS dl
  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               unnest(toks) AS token FROM toks)
  WHERE token IN ({in_list})
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
bm25 AS (
  SELECT q.query_id, tf.doc_id,
         SUM(CAST(ROUND(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
           (tf.tf * {BM25_K1 + 1.0}) /
           (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * tf.dl /
              (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
         , 9) AS DECIMAL(20,9))) AS score
  FROM tf
  JOIN qterms q USING (token)
  JOIN dfreq d USING (token)
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)"""


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical top-K retrieval: BM25 ranking of the documents table for a
    fixed query workload — the full-text-search operator of the text
    family (idf from the probabilistic relevance model, k1/b saturation +
    length normalization), and the lexical leg the hybrid-retrieval fusion
    reuses.

    The rank window partitions by query_id over the per-query CANDIDATE
    set (docs sharing ≥1 query term) — at 100 TB that set is bounded by
    the posting lists of the query's terms, the quantity a search engine's
    index bounds by construction; scores are exact decimals so rank has no
    float-tie hazard across engines.
    """
    from pyspark.sql.window import Window

    scored = bm25_scores(spark, sf_dir, BM25_QUERIES)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.col("score").cast("double").alias("score"),
        )
    )


def _bm25_sql() -> str:
    return f"""
WITH {bm25_sql_ctes(BM25_QUERIES)}
SELECT query_id, rank, doc_id, CAST(score AS DOUBLE) AS score FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
  FROM bm25
) t WHERE rank <= {BM25_TOP_K}
"""


# ----------------------------------- trained text-quality classifier

# The labeled-classifier curation stage (CCNet / LLaMA-style fastText
# quality classifier, Wenzek et al. 2020): a cheap trained model mimics an
# expensive teacher gate, then scores the whole corpus. Here the teacher
# is this engine's own heuristic gate (`text_quality_filter`'s verdict —
# deterministic, so the oracle can replay the labels exactly), the model
# is hashed bag-of-words multinomial Naive Bayes (Laplace-smoothed log
# count ratios over QCLS_BUCKETS hashed unigram buckets — the closed-form,
# bounded-state classifier; fastText's linear layer reduces to the same
# shape under a bag-of-buckets featurization).
QCLS_BUCKETS = 256
QCLS_TRAIN_MOD = 10
QCLS_TRAIN_LT = 7  # 70% train / 30% held-out, by doc_id hash

_QCLS_CACHE: dict[tuple, dict] = {}
_QCLS_LOCK = threading.Lock()


def _qcls_store_key(sf_dir: str) -> tuple:
    from ..sources.file_lake import table_fingerprint

    lake = sf_dir.rstrip("/")
    return (
        lake,
        table_fingerprint(lake, "documents"),
        QCLS_BUCKETS,
        QCLS_TRAIN_MOD,
        QCLS_TRAIN_LT,
    )


def _qcls_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_train, label_pos): teacher labels replay the heuristic
    quality gate; the split is a deterministic doc_id hash (rerun-stable,
    leakage-free by construction)."""
    from ..functions.hashing import portable_hash64

    st = text_stats(spark, sf_dir)
    label = F.coalesce(
        (F.col("quality_score") >= QUALITY_MIN)
        & (F.col("n_tokens") >= TOKENS_MIN),
        F.lit(False),
    )
    is_train = (
        portable_hash64(
            F.concat(F.lit("qclss_"), F.col("doc_id").cast("string"))
        )
        % QCLS_TRAIN_MOD
        < QCLS_TRAIN_LT
    )
    return st.select(
        "doc_id", is_train.alias("is_train"), label.alias("label_pos")
    )


def _qcls_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket) hashed unigram rows — ONE token scan, int64 out."""
    from ..functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    bucket = (
        portable_hash64(F.concat(F.lit("qclsb_"), F.col("t")))
        % QCLS_BUCKETS
    )
    return tok.select("doc_id", bucket.alias("bucket"))


def _train_qcls_model(labels: DataFrame, feats: DataFrame) -> dict:
    """Fit NB on the train split: one ≤QCLS_BUCKETS-row conditional-count
    aggregate (map-side combinable) + a 1-row prior aggregate. Log ratios
    are computed IN-ENGINE (F.log) so the collected doubles are the same
    bits the replaying oracle's ln() produces."""
    tr = feats.join(labels.filter(F.col("is_train")), "doc_id")
    bcounts = tr.groupBy("bucket").agg(
        F.sum(F.when(F.col("label_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("cp"),
        F.sum(F.when(~F.col("label_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("cn"),
    )
    totals = bcounts.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cn").cast("bigint").alias("nn"),
    )
    weights = sorted(
        (int(r["bucket"]), float(r["w"]))
        for r in bcounts.join(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("cp") + 1).cast("double")
                    / (F.col("np") + QCLS_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("cn") + 1).cast("double")
                    / (F.col("nn") + QCLS_BUCKETS).cast("double")
                )
            ).alias("w"),
        )
        .collect()
    )
    prow = (
        labels.filter(F.col("is_train"))
        .agg(
            F.sum(F.when(F.col("label_pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("dp"),
            F.sum(F.when(~F.col("label_pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("dn"),
        )
        .select(
            F.log(
                (F.col("dp") + 1).cast("double")
                / (F.col("dn") + 1).cast("double")
            ).alias("prior")
        )
        .collect()[0]
    )
    return {"prior": float(prow["prior"]), "weights": weights}


def qcls_model(
    spark: SparkSession,
    sf_dir: str,
    labels: DataFrame | None = None,
    feats: DataFrame | None = None,
) -> dict:
    """The trained classifier — {"prior": double, "weights": [(bucket,
    log-ratio)]}, ≤QCLS_BUCKETS+1 numbers — memoized per (lake, documents
    content fingerprint) and persisted through plans/index_store: a warmed
    session scores with zero training jobs."""
    key = _qcls_store_key(sf_dir)
    with _QCLS_LOCK:
        hit = _QCLS_CACHE.get(key)
    if hit is not None:
        return hit
    from ..plans import index_store

    model = index_store.try_read_model(index_store.QCLS_MODEL, key)
    if model is None:
        if labels is None:
            labels = _qcls_labels(spark, sf_dir)
        if feats is None:
            feats = _qcls_features(spark, sf_dir)
        model = _train_qcls_model(labels, feats)
        index_store.write_model(model, index_store.QCLS_MODEL, key)
    else:
        model = {
            "prior": float(model["prior"]),
            "weights": [(int(b), float(w)) for b, w in model["weights"]],
        }
    with _QCLS_LOCK:
        _QCLS_CACHE[key] = model
    return model


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained text-quality classification of the whole corpus: per doc,
    the hash split it fell in, the teacher label, the NB prediction, and
    the log-odds score (prior + Σ bucket log count ratios — summed on the
    decimal(38,18) lattice, so the score and the >0 decision are exact
    and order-independent in both engines).

    Plan shape (the 100 TB contract): ONE token scan feeds both training
    (cold only) and scoring; training state is one ≤QCLS_BUCKETS-row
    aggregate; the model re-enters the plan as a broadcast VALUES
    LocalRelation (repr-literals parse to identical IEEE-754 doubles);
    scoring is one co-keyed groupBy(doc_id) + one labels join. Zero
    data-sized driver state, zero Python on the data path.
    """
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    labels = tracked_cache(_qcls_labels(spark, sf_dir))
    feats = tracked_cache(_qcls_features(spark, sf_dir))
    model = qcls_model(spark, sf_dir, labels, feats)
    if model["weights"]:
        vals = ", ".join(
            f"(CAST({b} AS BIGINT), CAST('{w!r}' AS DOUBLE))"
            for b, w in model["weights"]
        )
        wdf = spark.sql(
            f"SELECT bucket, w FROM (VALUES {vals}) AS t(bucket, w)"
        )
    else:  # empty train split — prior-only scoring
        wdf = spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS bucket, "
            "CAST(NULL AS DOUBLE) AS w"
        ).filter(F.lit(False))
    sc = (
        feats.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w").cast("decimal(38,18)")).alias("s"))
    )
    lo = F.lit(model["prior"]).cast("decimal(38,18)") + F.coalesce(
        F.col("s"), F.lit(0).cast("decimal(38,18)")
    )
    return labels.join(sc, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("is_train"), F.lit("train"))
        .otherwise(F.lit("held_out"))
        .alias("split"),
        "label_pos",
        (lo > 0).alias("pred_pos"),
        F.round(lo, 9).cast("double").alias("log_odds"),
    )


def text_quality_classifier_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-split evaluation of the trained classifier against the teacher
    labels — the precision/recall table a curation pipeline gates on
    before trusting the model at corpus scale (held_out is the honest
    row; train shows fit). Confusion counts are exact; precision/recall/
    f1 compute from integer counts in one expression (f1 = 2tp/(2tp+fp+fn),
    never from pre-rounded intermediates)."""
    scored = text_quality_classifier(spark, sf_dir)
    tp = F.sum(
        F.when(F.col("label_pos") & F.col("pred_pos"), 1).otherwise(0)
    ).cast("bigint")
    fp = F.sum(
        F.when(~F.col("label_pos") & F.col("pred_pos"), 1).otherwise(0)
    ).cast("bigint")
    fn = F.sum(
        F.when(F.col("label_pos") & ~F.col("pred_pos"), 1).otherwise(0)
    ).cast("bigint")
    tn = F.sum(
        F.when(~F.col("label_pos") & ~F.col("pred_pos"), 1).otherwise(0)
    ).cast("bigint")
    agg = scored.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        tn.alias("tn"),
    )
    return agg.select(
        "split",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            9,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
            9,
        ).alias("recall"),
        F.round(
            (2 * F.col("tp")).cast("double")
            / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
            9,
        ).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / F.nullif(F.col("n_docs"), F.lit(0)),
            9,
        ).alias("accuracy"),
    )


def _qcls_scores_sql_ctes() -> str:
    """Shared CTE chain replaying label + split + training + scoring;
    terminates in `qcls(doc_id, split, label_pos, pred_pos, log_odds)`."""
    from ..functions.hashing import portable_hash64_sql

    split_h = portable_hash64_sql("'qclss_' || CAST(doc_id AS VARCHAR)")
    bucket_h = portable_hash64_sql("'qclsb_' || t")
    return f"""st AS ({_stats_sql()}),
lab AS (SELECT doc_id,
  COALESCE(quality_score >= {QUALITY_MIN} AND n_tokens >= {TOKENS_MIN},
           FALSE) AS label_pos,
  ({split_h} % {QCLS_TRAIN_MOD} < {QCLS_TRAIN_LT}) AS is_train
FROM st),
feats AS (SELECT doc_id, {bucket_h} % {QCLS_BUCKETS} AS bucket
  FROM (SELECT doc_id, unnest({tokens_sql("text")}) AS t FROM documents)),
tr AS (SELECT bucket,
  CAST(SUM(CASE WHEN label_pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
  CAST(SUM(CASE WHEN NOT label_pos THEN 1 ELSE 0 END) AS BIGINT) AS cn
FROM feats JOIN lab USING (doc_id) WHERE is_train GROUP BY bucket),
tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(cn) AS BIGINT) AS nn FROM tr),
w AS (SELECT bucket,
  ln(CAST(cp + 1 AS DOUBLE) / CAST(np + {QCLS_BUCKETS} AS DOUBLE))
  - ln(CAST(cn + 1 AS DOUBLE) / CAST(nn + {QCLS_BUCKETS} AS DOUBLE)) AS w
FROM tr CROSS JOIN tot),
pri AS (SELECT CAST(ln(
    CAST(SUM(CASE WHEN label_pos THEN 1 ELSE 0 END) + 1 AS DOUBLE)
  / CAST(SUM(CASE WHEN NOT label_pos THEN 1 ELSE 0 END) + 1 AS DOUBLE))
  AS DECIMAL(38,18)) AS prior
FROM lab WHERE is_train),
sc AS (SELECT f.doc_id, SUM(CAST(w AS DECIMAL(38,18))) AS s
FROM feats f JOIN w USING (bucket) GROUP BY f.doc_id),
qcls AS (SELECT l.doc_id,
  CASE WHEN l.is_train THEN 'train' ELSE 'held_out' END AS split,
  l.label_pos,
  (p.prior + COALESCE(sc.s, CAST(0 AS DECIMAL(38,18)))) > 0 AS pred_pos,
  CAST(round(p.prior + COALESCE(sc.s, CAST(0 AS DECIMAL(38,18))), 9)
       AS DOUBLE) AS log_odds
FROM lab l LEFT JOIN sc USING (doc_id) CROSS JOIN pri p)"""


def _qcls_sql() -> str:
    return f"""
WITH {_qcls_scores_sql_ctes()}
SELECT doc_id, split, label_pos, pred_pos, log_odds FROM qcls
"""


def _qcls_report_sql() -> str:
    return f"""
WITH {_qcls_scores_sql_ctes()},
cm AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN label_pos AND pred_pos THEN 1 ELSE 0 END)
    AS BIGINT) AS tp,
  CAST(SUM(CASE WHEN NOT label_pos AND pred_pos THEN 1 ELSE 0 END)
    AS BIGINT) AS fp,
  CAST(SUM(CASE WHEN label_pos AND NOT pred_pos THEN 1 ELSE 0 END)
    AS BIGINT) AS fn,
  CAST(SUM(CASE WHEN NOT label_pos AND NOT pred_pos THEN 1 ELSE 0 END)
    AS BIGINT) AS tn
FROM qcls GROUP BY split)
SELECT split, n_docs, tp, fp, fn, tn,
  round(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 9) AS precision,
  round(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 9) AS recall,
  round(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0), 9) AS f1,
  round(CAST(tp + tn AS DOUBLE) / NULLIF(n_docs, 0), 9) AS accuracy
FROM cm
"""


# Bigram LM: Laplace(+1) smoothing; train/held-out by doc_id hash (the
# classifier's split idiom) so held-out perplexity is an honest number.
BILM_TRAIN_MOD = 10
BILM_TRAIN_LT = 7  # 70% train / 30% held-out


def text_lm_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BIGRAM-LM perplexity with Laplace smoothing — the
    KenLM-style fluency filter (CCNet, Wenzek'20) one order above
    `text_lm_score`'s unigram proxy: the model is trained in-query on a
    70% doc-hash split and every document (train and held-out) is scored,
    so held-out perplexity is honest and the train/held-out gap is
    visible per row.

    P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V) over train bigram counts; unseen
    bigrams and unseen contexts degrade gracefully (C=0 → 1/(C(w1)+V),
    1/V). Plan: posexplode → lead() window per doc (never explode of a
    HOF-built array — §6's 50× pitfall), bigram/context counts are
    vocabulary-bounded aggregates with map-side combine, scoring joins
    shuffle on the bigram/context keys (linear, Catalyst-planned — at
    100 TB the model frame stays a distributed join side, never forced
    to the driver), V attaches as a 1-row broadcast. NLL terms are
    round(ln,12) summed in decimal(38,12); docs with <2 tokens surface
    on the anchored spine with NULL metrics.
    """
    from ..functions.hashing import portable_hash64
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_train = (
        portable_hash64(
            F.concat(F.lit("bilm_"), F.col("doc_id").cast("string"))
        )
        % BILM_TRAIN_MOD
        < BILM_TRAIN_LT
    )
    tagged = docs.select(
        "doc_id",
        "text",
        F.when(is_train, F.lit("train")).otherwise(F.lit("held_out")).alias(
            "split"
        ),
    )
    tok = tagged.select(
        "doc_id",
        "split",
        F.posexplode(tokens(F.col("text"))).alias("pos", "t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    # The bigram stream is consumed three times (bigram counts, context
    # counts, scoring join) — cache it so the tokenize + lead-window
    # pipeline runs once (the _ngram_jaccard exploded-cache precedent;
    # spills to disk at scale like any tracked cache).
    big = tracked_cache(
        tok.withColumn("t2", F.lead("t").over(w))
        .filter(F.col("t2").isNotNull())
        .select(
            "doc_id",
            "split",
            F.col("t").alias("w1"),
            F.concat_ws(" ", "t", "t2").alias("bg"),
        )
    )
    train_big = big.filter(F.col("split") == "train")
    c2 = train_big.groupBy("bg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    # C(w1) = Σ_bg C(w1·) — derived from the vocabulary-sized bigram
    # count frame instead of a second full-stream aggregation (tokens
    # are whitespace-split, so the leading token is recoverable exactly).
    c1 = c2.groupBy(
        F.split(F.col("bg"), " ").getItem(0).alias("w1")
    ).agg(F.sum("c2").cast("bigint").alias("c1"))
    vsize = (
        tok.filter(F.col("split") == "train")
        .agg(F.countDistinct("t").cast("bigint").alias("v"))
    )
    term = F.round(
        -F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast(
                "double"
            )
        ),
        12,
    )
    per_doc = (
        big.join(c2, "bg", "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vsize))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (
                F.sum(term.cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_nll"),
        )
    )
    return (
        tagged.select("doc_id", "split")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias(
                "n_bigrams"
            ),
            F.round("mean_nll", 9).alias("mean_nll"),
            F.round(F.exp(F.round(F.col("mean_nll"), 9)), 6).alias("ppl"),
        )
    )


def _bilm_sql() -> str:
    from ..functions.hashing import portable_hash64_sql

    toks = tokens_sql("text")
    h = portable_hash64_sql("'bilm_' || CAST(doc_id AS VARCHAR)")
    split = (
        f"CASE WHEN {h} % {BILM_TRAIN_MOD} < {BILM_TRAIN_LT} "
        "THEN 'train' ELSE 'held_out' END"
    )
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS toks, {split} AS split FROM documents
),
big AS (
  SELECT doc_id, split,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM base
),
bw AS (SELECT doc_id, split, bg, split_part(bg, ' ', 1) AS w1 FROM big),
c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bw
       WHERE split = 'train' GROUP BY bg),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bw
       WHERE split = 'train' GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
      FROM (SELECT unnest(toks) AS t FROM base WHERE split = 'train')),
pd AS (
  SELECT bw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(round(-ln(
               CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
               / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)), 12)
             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mean_nll
  FROM bw LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY bw.doc_id
)
SELECT b.doc_id, b.split,
       COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       round(pd.mean_nll, 9) AS mean_nll,
       round(exp(round(pd.mean_nll, 9)), 6) AS ppl
FROM (SELECT doc_id, split FROM base) b
LEFT JOIN pd ON pd.doc_id = b.doc_id
"""


def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile: type-token ratio, root TTR
    (Guiraud), Herdan's C, hapax share — the vocabulary-richness gates a
    curation pipeline runs beside `text_repetition` (low diversity ⇒
    boilerplate/template text; TTR's length sensitivity is why the
    Guiraud and Herdan variants ship alongside).

    Plan (scale story): explode tokens → ONE groupBy(doc_id, token) →
    ONE groupBy(doc_id) — both shuffles linear in token count, partitioned
    by doc, never a per-doc quadratic lambda. The result is anchored on
    the documents spine (left join), so zero-token docs surface with
    n_tokens=0 and NULL ratios instead of vanishing — the
    `dedup_substring` anchoring discipline.

    Cross-engine exactness: counts are integers; every ratio is one
    int-derived double op rounded to 9 (ln/sqrt are correctly-rounded
    IEEE in both engines). Herdan's C is NULL for N ≤ 1 (ln N = 0) via
    the module's NULLIF idiom.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    per_doc = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
    )
    anchored = docs.select("doc_id").join(per_doc, "doc_id", "left")
    n = F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint"))
    v = F.coalesce(F.col("n_types"), F.lit(0).cast("bigint"))
    h = F.coalesce(F.col("n_hapax"), F.lit(0).cast("bigint"))
    nd = F.nullif(n, F.lit(0)).cast("double")
    return anchored.select(
        "doc_id",
        n.alias("n_tokens"),
        v.alias("n_types"),
        h.alias("n_hapax"),
        F.round(v.cast("double") / nd, 9).alias("ttr"),
        F.round(v.cast("double") / F.sqrt(nd), 9).alias("root_ttr"),
        F.round(
            F.log(v.cast("double"))
            / F.nullif(F.log(nd), F.lit(0.0)),
            9,
        ).alias("herdan_c"),
        F.round(h.cast("double") / nd, 9).alias("hapax_share"),
    )


def _lexical_diversity_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM tc GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_types, 0) AS n_types,
       COALESCE(p.n_hapax, 0) AS n_hapax,
       round(CAST(COALESCE(p.n_types, 0) AS DOUBLE)
             / NULLIF(COALESCE(p.n_tokens, 0), 0), 9) AS ttr,
       round(CAST(COALESCE(p.n_types, 0) AS DOUBLE)
             / sqrt(CAST(NULLIF(COALESCE(p.n_tokens, 0), 0) AS DOUBLE)), 9)
         AS root_ttr,
       round(ln(CAST(COALESCE(p.n_types, 0) AS DOUBLE))
             / NULLIF(ln(CAST(NULLIF(COALESCE(p.n_tokens, 0), 0)
                              AS DOUBLE)), 0.0), 9) AS herdan_c,
       round(CAST(COALESCE(p.n_hapax, 0) AS DOUBLE)
             / NULLIF(COALESCE(p.n_tokens, 0), 0), 9) AS hapax_share
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


QUERIES = {
    "text_char_entropy": text_char_entropy,
    "text_cooccurrence_pmi": text_cooccurrence_pmi,
    "text_vocab_growth": text_vocab_growth,
    "text_vocab_coverage": text_vocab_coverage,
    "text_zipf_fit": text_zipf_fit,
    "text_lm_score": text_lm_score,
    "text_stats": text_stats,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_token_histogram": text_token_histogram,
    "text_quality_filter": text_quality_filter,
    "text_repetition": text_repetition,
    "text_token_count_bpe": text_token_count_bpe,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "text_tfidf_keywords": text_tfidf_keywords,
    "text_rolling_fingerprint": text_rolling_fingerprint,
    "text_bm25_search": text_bm25_search,
    "text_quality_classifier": text_quality_classifier,
    "text_quality_classifier_report": text_quality_classifier_report,
    "text_lexical_diversity": text_lexical_diversity,
    "text_lm_perplexity_bigram": text_lm_perplexity_bigram,
}

ORACLES = {
    "text_char_entropy": _char_entropy_sql(),
    "text_cooccurrence_pmi": _pmi_sql(),
    "text_vocab_growth": _vocab_growth_sql(),
    "text_vocab_coverage": _vocab_coverage_sql(),
    "text_zipf_fit": ZIPF_SQL,
    "text_lm_score": _lm_score_sql(),
    "text_stats": _stats_sql(),
    "text_langid": _langid_sql(),
    "text_fingerprint": FINGERPRINT_SQL,
    "text_token_histogram": _histogram_sql(),
    "text_quality_filter": _quality_filter_sql(),
    "text_repetition": _repetition_sql(),
    "text_token_count_bpe": TOKEN_COUNT_BPE_SQL,
    "text_tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
    "text_tfidf_keywords": _tfidf_sql(),
    "text_rolling_fingerprint": ROLLING_FP_SQL,
    "text_bm25_search": _bm25_sql(),
    "text_quality_classifier": _qcls_sql(),
    "text_quality_classifier_report": _qcls_report_sql(),
    "text_lexical_diversity": _lexical_diversity_sql(),
    "text_lm_perplexity_bigram": _bilm_sql(),
}
