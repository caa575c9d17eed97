"""Data sampling strategies (SURVEY.md §2.B).

Re-expresses dbsurveyor's `SamplingStrategy` / `OrderingStrategy`
(`/root/reference/dbsurveyor-core/src/models.rs:349-374`,
`/root/reference/dbsurveyor-core/src/adapters/postgres/sampling.rs`):

- MostRecent{limit}: reference builds `ORDER BY <ts> DESC LIMIT n`
  (sampling.rs:420 generate_order_by_clause). Spark plans orderBy().limit()
  as TakeOrderedAndProject — per-partition top-N heaps merged on the driver,
  no global sort, so it scales to any table size.
- Random{limit}: reference uses `TABLESAMPLE BERNOULLI` for big tables /
  `ORDER BY RANDOM()` for small (sampling.rs:599-621). Our analog is a
  DETERMINISTIC Bernoulli sample: keep rows whose portable 60-bit key hash
  lands under the rate threshold. Scan-local (no shuffle), reproducible
  across engines and runs, and stable under repartitioning — which
  `rand()`-based sampling is not.
- Stratified: per-stratum MostRecent via one window shuffle on the stratum
  key (an extension the reference lacks but a survey tool needs when a table
  mixes populations).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.aggregates import DECIMAL_T, dsum, dsum_sql
from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..plans.roundcheck import checkpoint_round

MOST_RECENT_LIMIT = 100
RANDOM_PCT = 5  # percent of rows kept by the deterministic Bernoulli sample
STRATUM_LIMIT = 50


def sample_most_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    ).limit(MOST_RECENT_LIMIT)


MOST_RECENT_SQL = f"""
SELECT * FROM orders
ORDER BY o_orderdate DESC, o_orderkey DESC
LIMIT {MOST_RECENT_LIMIT}
"""


def sample_random_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(portable_hash64(F.col("o_orderkey")) % 100 < RANDOM_PCT)


RANDOM_SQL = f"""
SELECT * FROM orders
WHERE {portable_hash64_sql("o_orderkey")} % 100 < {RANDOM_PCT}
"""


def sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= STRATUM_LIMIT)
        .drop("rn")
    )


STRATIFIED_SQL = f"""
SELECT event_id, ts, user_id, event_type, value, props
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t
WHERE rn <= {STRATUM_LIMIT}
"""


def sample_by_pk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OrderingStrategy::PrimaryKey (models.rs:362): first N rows by PK.

    orderBy().limit() plans as TakeOrderedAndProject — per-partition top-N
    heap then a driver merge of N rows, never a global sort. With min/max
    column statistics (parquet row-group metadata) the scan also prunes
    row groups whose PK range is above the cutoff.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.orderBy(F.asc("o_orderkey")).limit(MOST_RECENT_LIMIT)


BY_PK_SQL = f"""
SELECT * FROM orders
ORDER BY o_orderkey ASC
LIMIT {MOST_RECENT_LIMIT}
"""


# ------------------------------------------- training-data pipeline splits

# Deterministic hash split: md5(doc_id) bucket 0-99 → 90/5/5. Scan-local
# (no shuffle, no RNG state), reproducible across engines and runs, and
# stable under corpus growth — a document keeps its split forever, the
# property a training pipeline needs for held-out integrity at 100 TB.
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5

# Per-language target keep-rates for corpus mixing (domain/language
# rebalancing, the Pile/ROOTS-style weighted mixture): deterministic
# hash-Bernoulli per doc, so the mix is exact in expectation and
# reproducible row-for-row.
MIX_WEIGHTS = {"en": 100, "de": 60, "fr": 60, "es": 40, "zh": 40}
MIX_DEFAULT_PCT = 20


def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = portable_hash64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", "lang", split.alias("split"))


_SPLIT_BUCKET = f"{portable_hash64_sql('CAST(doc_id AS VARCHAR)')} % 100"

SPLIT_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN {_SPLIT_BUCKET} < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {_SPLIT_BUCKET} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture: keep each doc with its language's target
    rate via hash-Bernoulli — one scan-local filter, no shuffle, no RNG;
    re-running (or adding data) never flips a previous keep decision."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    rate = F.lit(MIX_DEFAULT_PCT)
    for lang, pct in MIX_WEIGHTS.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    keep = portable_hash64(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 100
    return docs.filter(keep < rate)


_MIX_RATE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in MIX_WEIGHTS.items()
) + f" ELSE {MIX_DEFAULT_PCT} END"

MIX_SQL = f"""
SELECT doc_id, lang, source FROM documents
WHERE {portable_hash64_sql("'mix_' || CAST(doc_id AS VARCHAR)")} % 100 < {_MIX_RATE}
"""


SYSTEMATIC_K = 50  # sampling interval: every k-th row by PK


def sample_systematic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (interval) sampling: every k-th row by primary key —
    the classic survey design between Random (no order structure kept)
    and MostRecent (one end of the order only): uniform coverage of the
    key range at exactly 1/k rate, deterministic and growth-stable.
    Scan-local (a modulus filter on the PK, pushable and codegen'd);
    no shuffle, no sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % SYSTEMATIC_K == 0)


SYSTEMATIC_SQL = f"""
SELECT * FROM orders WHERE o_orderkey % {SYSTEMATIC_K} = 0
"""




FIXED_N = 200  # exact sample size


def sample_fixed_size_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size uniform sample without replacement — the reservoir-sample
    guarantee (Vitter's Algorithm R gives the same distribution) expressed
    scale-stably: keep the N rows with the smallest portable hash of the
    PK. Hash-Bernoulli (`sample_random_orders`) yields a BINOMIAL size;
    pipelines that contractually need "exactly N rows" (eval sets, quota
    sampling) need this operator instead.

    Plan: TakeOrderedAndProject — per-partition top-N then a driver merge
    of N·partitions candidates; no global sort, no full shuffle. Unlike a
    true reservoir it is also DETERMINISTIC and rerun-stable: the sample
    only changes where the underlying keys do.

    Reference parity: SamplingStrategy::Random{limit} (`models.rs`,
    `postgres/sampling.rs:599` ORDER BY RANDOM() LIMIT n) — same contract,
    portable-hash order instead of engine RNG.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "sample_key", portable_hash64(F.col("o_orderkey"))
        )
        .orderBy("sample_key", "o_orderkey")
        .limit(FIXED_N)
        .drop("sample_key")
    )


FIXED_SIZE_SQL = f"""
SELECT * EXCLUDE (sample_key) FROM (
  SELECT *, {portable_hash64_sql("o_orderkey")} AS sample_key FROM orders
) ORDER BY sample_key, o_orderkey LIMIT {FIXED_N}
"""

# --------------------------------------------- DSIR importance resampling

# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# score raw-pool documents by how target-like their hashed n-gram profile
# is under bag-of-words models of the target domain vs the raw pool, then
# keep the top of the ranking. Hashed features keep the model size FIXED
# (DSIR_BUCKETS log-ratios) regardless of corpus vocabulary — the property
# that makes the method run at web scale in the paper and here.
DSIR_BUCKETS = 512
# Deterministic stand-in for the curated target domain (a real pipeline
# points this at its actual high-quality corpus, e.g. wiki+books).
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
DSIR_SELECT_K = 50


# The hashed-n-gram log-ratio table is the DSIR MODEL — ≤DSIR_BUCKETS
# (bucket, log_ratio) rows, trained once per (lake, documents content
# fingerprint) and persisted through plans/index_store like the IVF
# quantizer: a warmed session scores with ZERO training jobs (the paper's
# own split — fit the importance weights once, reuse across selection
# runs). JSON round-trips doubles exactly, and the warmed rows re-enter
# the plan as a VALUES LocalRelation whose repr-literals parse back to
# the identical IEEE-754 doubles in the JVM.
_DSIR_CACHE: dict[tuple, list] = {}
_DSIR_LOCK = threading.Lock()


def _dsir_store_key(sf_dir: str) -> tuple:
    from ..sources.file_lake import table_fingerprint

    lake = sf_dir.rstrip("/")
    return (lake, table_fingerprint(lake, "documents"), DSIR_BUCKETS)


def _dsir_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slim (doc_id, source, bucket) hashed unigram+bigram feature
    frame — ONE token pass (posexplode → lead window builds bigrams in
    codegen), tracked-cached because the trainer and the scorer both
    read it in a cold query."""
    from ..functions.text import tokens
    from ..plans.cache import tracked_cache

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(tokens(F.col("text"))).alias("pos", "t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id", "source", "t", F.lead("t", 1).over(w).alias("t2")
    )
    ub = (
        portable_hash64(F.concat(F.lit("dsiru_"), F.col("t"))) % DSIR_BUCKETS
    )
    bb = F.when(
        F.col("t2").isNotNull(),
        portable_hash64(
            F.concat(
                F.lit("dsirb_"), F.concat_ws(" ", F.col("t"), F.col("t2"))
            )
        )
        % DSIR_BUCKETS,
    )
    return tracked_cache(
        grams.select(
            "doc_id",
            "source",
            F.explode(F.array(ub.alias("u"), bb.alias("b"))).alias("bucket"),
        ).filter(F.col("bucket").isNotNull())
    )


def _train_dsir_ratio(feats: DataFrame) -> list:
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    bcounts = feats.groupBy("bucket").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).cast("bigint").alias("ct"),
        F.sum(F.when(~is_target, 1).otherwise(0))
        .cast("bigint")
        .alias("cq"),
    )
    totals = bcounts.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cq").cast("bigint").alias("nq"),
    )
    return sorted(
        (int(r["bucket"]), float(r["log_ratio"]))
        for r in bcounts.join(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / (F.col("nt") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("cq") + 1).cast("double")
                    / (F.col("nq") + DSIR_BUCKETS).cast("double")
                )
            ).alias("log_ratio"),
        )
        .collect()
    )


def dsir_log_ratio_rows(
    spark: SparkSession,
    sf_dir: str,
    feats: DataFrame | None = None,
) -> list:
    """[(bucket, log_ratio)] — the trained DSIR importance model, memoized
    and persisted. ``feats`` lets a cold in-query trainer reuse the
    caller's cached feature frame instead of re-tokenizing."""
    key = _dsir_store_key(sf_dir)
    with _DSIR_LOCK:
        hit = _DSIR_CACHE.get(key)
    if hit is not None:
        return hit
    from ..plans import index_store

    loaded = index_store.try_read_model(index_store.DSIR_MODEL, key)
    if loaded is not None:
        rows = [(int(b), float(r)) for b, r in loaded]
    else:
        if feats is None:
            feats = _dsir_features(spark, sf_dir)
        rows = _train_dsir_ratio(feats)
        index_store.write_model(rows, index_store.DSIR_MODEL, key)
    with _DSIR_LOCK:
        _DSIR_CACHE[key] = rows
    return rows


def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: the DSIR_SELECT_K raw-pool documents whose
    hashed unigram+bigram feature distribution is most target-like, scored
    by the Laplace-smoothed bag-of-words log importance ratio
    Σ_features ln(p̂_target(b)/q̂_raw(b)). The score is length-normalized
    (avg per feature) before ranking — the paper's chunking serves the
    same purpose — with the raw sum also emitted.

    Plan: ONE token pass (posexplode → lead window on doc_id builds
    bigrams in codegen; the feature array fed to explode is plain
    expressions, never HOF-built); both domain models aggregate from the
    SAME feature frame into one ≤DSIR_BUCKETS-row conditional-count
    aggregate (map-side combinable). The trained log-ratio table is
    persisted INDEX STATE (`dsir_log_ratio_rows` — memoized per lake
    fingerprint + plans/index_store): a warmed session scores with zero
    training jobs, the model re-entering the plan as a broadcast VALUES
    LocalRelation. Per-doc scores are one groupBy(doc_id) with
    decimal-exact log-ratio sums; selection is TakeOrderedAndProject —
    no global sort. At 100 TB: the only data-sized shuffles are the
    bigram window and the per-doc aggregate, both on doc_id; the model
    is metadata.
    """
    from ..plans.cache import release_caches

    release_caches()
    feats = _dsir_features(spark, sf_dir)
    # trained model (warm: zero jobs; cold: trains off the cached feats)
    rows = dsir_log_ratio_rows(spark, sf_dir, feats)
    if rows:
        vals = ", ".join(
            f"(CAST({b} AS BIGINT), CAST('{r!r}' AS DOUBLE))"
            for b, r in rows
        )
        ratio = spark.sql(
            "SELECT bucket, log_ratio "
            f"FROM (VALUES {vals}) AS t(bucket, log_ratio)"
        )
    else:  # empty corpus — no trained buckets
        ratio = spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS bucket, "
            "CAST(NULL AS DOUBLE) AS log_ratio"
        ).filter(F.lit(False))
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    scored = (
        feats.filter(~is_target)
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.sum(F.col("log_ratio").cast("decimal(38,18)"))
            .cast("double")
            .alias("_sum"),
        )
        .select(
            "doc_id",
            "n_features",
            F.round("_sum", 9).alias("dsir_logw"),
            F.round(F.col("_sum") / F.col("n_features"), 9).alias(
                "avg_log_ratio"
            ),
        )
    )
    return scored.orderBy(
        F.desc("avg_log_ratio"), F.asc("doc_id")
    ).limit(DSIR_SELECT_K)


def _dsir_sql() -> str:
    from ..functions.text import tokens_sql

    toks = tokens_sql("text")
    target_in = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    hu = portable_hash64_sql("'dsiru_' || t")
    hb = portable_hash64_sql("'dsirb_' || t || ' ' || t2")
    return f"""
WITH tok AS (
  SELECT doc_id, source, t, CAST(pos AS BIGINT) AS pos
  FROM (SELECT doc_id, source, unnest({toks}) AS t,
               generate_subscripts({toks}, 1) AS pos
        FROM documents)
),
tok2 AS (
  SELECT doc_id, source, t,
         lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
  FROM tok
),
feats AS (
  SELECT doc_id, source, bucket FROM (
    SELECT doc_id, source,
           unnest([{hu} % {DSIR_BUCKETS},
                   CASE WHEN t2 IS NOT NULL
                        THEN {hb} % {DSIR_BUCKETS} END]) AS bucket
    FROM tok2
  ) WHERE bucket IS NOT NULL
),
bcounts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN source IN ({target_in}) THEN 1 ELSE 0 END)
              AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN source NOT IN ({target_in}) THEN 1 ELSE 0 END)
              AS BIGINT) AS cq
  FROM feats GROUP BY bucket
),
totals AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cq) AS BIGINT) AS nq
  FROM bcounts
),
ratio AS (
  SELECT bucket,
         ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + {DSIR_BUCKETS} AS DOUBLE))
         - ln(CAST(cq + 1 AS DOUBLE) / CAST(nq + {DSIR_BUCKETS} AS DOUBLE))
           AS log_ratio
  FROM bcounts CROSS JOIN totals
),
scored AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         CAST(SUM(CAST(log_ratio AS DECIMAL(38,18))) AS DOUBLE) AS s
  FROM feats f JOIN ratio r ON r.bucket = f.bucket
  WHERE f.source NOT IN ({target_in})
  GROUP BY f.doc_id
)
SELECT doc_id, n_features,
       ROUND(s, 9) AS dsir_logw,
       ROUND(s / n_features, 9) AS avg_log_ratio
FROM scored
ORDER BY ROUND(s / n_features, 9) DESC, doc_id ASC
LIMIT {DSIR_SELECT_K}
"""


# ------------------------------------------------ two-stage cluster sample

CLUSTER_PCT = 10  # stage-1 PSU (order) inclusion probability, percent


def sample_cluster_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage CLUSTER sampling (classic survey design, Cochran):
    stage 1 samples whole orders (the primary sampling units) by
    deterministic hash-Bernoulli at π = CLUSTER_PCT%; stage 2 takes ALL
    of each sampled order's lineitems. Per order-year it emits the
    Horvitz–Thompson revenue estimate (sample total / π — exact decimal
    ×(100/π), no float drift), the true total, and the realized relative
    error: the design that answers "estimate revenue while touching only
    10% of ORDERS' line items" — row-Bernoulli sampling can't be fetched
    cheaply (every order is hit), cluster sampling turns stage 2 into a
    key-local read (a semi join; free co-location under order-key
    bucketing), at the price of intra-cluster design effect the
    rel_error column measures.

    Plan: the stage-1 filter is scan-local on orders; stage 2 is one
    join on the sampled keys; both sample and truth reduce to
    \\|years\\|-row exact-decimal aggregates before the comparison join.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("rev"),
    )
    sampled = orders.filter(
        portable_hash64(
            F.concat(F.lit("clu_"), F.col("o_orderkey").cast("string"))
        )
        % 100
        < CLUSTER_PCT
    )
    mult = 100 // CLUSTER_PCT
    samp = (
        lines.join(
            sampled.select(F.col("o_orderkey").alias("l_orderkey"), "yr"),
            "l_orderkey",
        )
        .groupBy("yr")
        .agg(
            F.count_distinct("l_orderkey").cast("bigint").alias(
                "clusters_sampled"
            ),
            F.sum(F.col("rev").cast("decimal(30,6)")).alias("_s"),
        )
        .select(
            "yr",
            "clusters_sampled",
            (F.col("_s") * mult).alias("_est"),
        )
    )
    true_rev = (
        lines.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "yr"),
            "l_orderkey",
        )
        .groupBy("yr")
        .agg(F.sum(F.col("rev").cast("decimal(30,6)")).alias("_t"))
    )
    return (
        true_rev.join(samp, "yr", "left")
        .select(
            F.col("yr").cast("bigint").alias("order_year"),
            F.coalesce(F.col("clusters_sampled"), F.lit(0).cast("bigint")).alias(
                "clusters_sampled"
            ),
            F.round(F.col("_t").cast("double"), 2).alias("true_revenue"),
            F.round(F.coalesce(F.col("_est"), F.lit(0)).cast("double"), 2).alias(
                "ht_estimate"
            ),
            F.round(
                F.abs(
                    F.coalesce(F.col("_est"), F.lit(0)).cast("double")
                    - F.col("_t").cast("double")
                )
                / F.col("_t").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


def _cluster_sample_sql() -> str:
    mult = 100 // CLUSTER_PCT
    flag = (
        portable_hash64_sql("'clu_' || CAST(o_orderkey AS VARCHAR)")
        + f" % 100 < {CLUSTER_PCT}"
    )
    return f"""
WITH o AS (SELECT o_orderkey, year(o_orderdate) AS yr FROM orders),
l AS (
  SELECT l_orderkey, l_extendedprice * (1.0 - l_discount) AS rev
  FROM lineitem
),
sampled AS (SELECT o_orderkey, year(o_orderdate) AS yr
            FROM orders WHERE {flag}),
samp AS (
  SELECT s.yr,
         CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS clusters_sampled,
         SUM(CAST(l.rev AS DECIMAL(30,6))) * {mult} AS est
  FROM l JOIN sampled s ON s.o_orderkey = l.l_orderkey
  GROUP BY s.yr
),
truth AS (
  SELECT o.yr, SUM(CAST(l.rev AS DECIMAL(30,6))) AS t
  FROM l JOIN o ON o.o_orderkey = l.l_orderkey
  GROUP BY o.yr
)
SELECT CAST(truth.yr AS BIGINT) AS order_year,
       COALESCE(samp.clusters_sampled, 0) AS clusters_sampled,
       ROUND(CAST(truth.t AS DOUBLE), 2) AS true_revenue,
       ROUND(CAST(COALESCE(samp.est, 0) AS DOUBLE), 2) AS ht_estimate,
       ROUND(ABS(CAST(COALESCE(samp.est, 0) AS DOUBLE)
                 - CAST(truth.t AS DOUBLE))
             / CAST(truth.t AS DOUBLE), 6) AS rel_error
FROM truth LEFT JOIN samp ON samp.yr = truth.yr
"""


# --------------------------------------------------- Neyman allocation

NEYMAN_BUDGET = 1000  # total sample rows to allocate across strata


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman OPTIMAL stratified-sample allocation (Cochran): for a fixed
    budget of n rows, sample stratum h in proportion to N_h·S_h — more
    rows where the stratum is bigger OR more variable — which minimizes
    the estimator variance for a population total; proportional
    allocation (N_h only) is the baseline it beats whenever stddevs
    differ. Strata = customer nations, variable = account balance. Emits
    per stratum the measured size and stddev, the Neyman and proportional
    shares, and the allocated row counts — the table that parameterizes
    `sample_stratified_events`-style per-stratum samplers.

    Plan: ONE map-side-combinable aggregate per stratum (count + exact
    decimal Σx, Σx² — population stddev from the closed form); all
    allocation arithmetic runs on the \\|strata\\|-row frame via a window
    sum. Nothing data-sized shuffles beyond the one stratum aggregate.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal"
    )
    per = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(30,6)"))
        .cast("double")
        .alias("_sx"),
        F.sum(
            (F.col("c_acctbal") * F.col("c_acctbal")).cast("decimal(30,6)")
        )
        .cast("double")
        .alias("_sx2"),
    )
    stddev = F.sqrt(
        (
            F.col("_sx2")
            - F.col("_sx") * F.col("_sx") / F.col("n_rows")
        )
        / F.col("n_rows")
    )
    w = Window.partitionBy()
    scored = per.select(
        F.col("c_nationkey").cast("bigint").alias("nation_key"),
        "n_rows",
        F.round(stddev, 6).alias("stddev_acctbal"),
        (F.col("n_rows") * stddev).alias("_nh_sh"),
    )
    return (
        scored.select(
            "nation_key",
            "n_rows",
            "stddev_acctbal",
            (F.col("_nh_sh") / F.sum("_nh_sh").over(w)).alias("_ney"),
            (
                F.col("n_rows").cast("double")
                / F.sum("n_rows").over(w).cast("double")
            ).alias("_prop"),
        )
        .select(
            "nation_key",
            "n_rows",
            "stddev_acctbal",
            F.round("_ney", 6).alias("neyman_share"),
            F.round("_prop", 6).alias("prop_share"),
            F.round(F.col("_ney") * NEYMAN_BUDGET)
            .cast("bigint")
            .alias("allocated_n"),
        )
    )


def _neyman_sql() -> str:
    return f"""
WITH per AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
           AS sx2
  FROM customer GROUP BY c_nationkey
),
scored AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation_key, n_rows,
         ROUND(sqrt((sx2 - sx * sx / n_rows) / n_rows), 6)
           AS stddev_acctbal,
         n_rows * sqrt((sx2 - sx * sx / n_rows) / n_rows) AS nh_sh
  FROM per
)
SELECT nation_key, n_rows, stddev_acctbal,
       ROUND(nh_sh / SUM(nh_sh) OVER (), 6) AS neyman_share,
       ROUND(CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE), 6)
         AS prop_share,
       CAST(ROUND(nh_sh / SUM(nh_sh) OVER () * {NEYMAN_BUDGET}) AS BIGINT)
         AS allocated_n
FROM scored
"""


# ------------------------------------------- class-balanced downsampling

BALANCE_PPM = 1_000_000  # keep-rate resolution (parts per million)


def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling over the labeled embedding corpus: each
    label is down-sampled to (approximately) the MINORITY class size via a
    deterministic hash-Bernoulli keep — the standard rebalancing step
    before training a classifier head / probe on skewed labels. Emits per
    label the available count, the keep rate, the actually-kept count
    under the hash filter, and the kept share — the audit table plus the
    exact filter a pipeline re-applies scan-locally at any scale.

    Plan: one groupBy(label) count (map-side combinable), rate arithmetic
    on the |labels|-row frame (integer ppm — no float division parity
    risk), then ONE scan-local hash filter + second |labels| aggregate.
    The rate attach is a plain key join the planner is free to broadcast
    from size stats (no forced hint; labels are a bounded enum).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_available")
    )
    w = Window.partitionBy()
    min_n = counts.agg(F.min("n_available").alias("_min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).withColumn(
        "keep_ppm",
        F.expr(f"_min_n * {BALANCE_PPM} div n_available"),
    ).drop("_min_n")
    keep = portable_hash64(
        F.concat(F.lit("bal_"), F.col("vec_id").cast("string"))
    ) % BALANCE_PPM
    kept = (
        emb.join(rates.select("label", "keep_ppm"), "label")
        .filter(keep < F.col("keep_ppm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        rates.join(kept, "label", "left")
        .select(
            "label",
            "n_available",
            F.round(F.col("keep_ppm") / F.lit(float(BALANCE_PPM)), 6).alias(
                "keep_rate"
            ),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias(
                "n_kept"
            ),
        )
        .withColumn(
            "kept_share",
            F.round(
                F.col("n_kept") / F.sum("n_kept").over(w).cast("double"), 6
            ),
        )
    )


BALANCED_SQL = f"""
WITH counts AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_available
  FROM embeddings GROUP BY label
),
rates AS (
  SELECT label, n_available,
         MIN(n_available) OVER () * {BALANCE_PPM} // n_available AS keep_ppm
  FROM counts
),
kept AS (
  SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM embeddings e JOIN rates r ON r.label = e.label
  WHERE {portable_hash64_sql("'bal_' || CAST(vec_id AS VARCHAR)")}
        % {BALANCE_PPM} < r.keep_ppm
  GROUP BY e.label
)
SELECT r.label, r.n_available,
       ROUND(r.keep_ppm / CAST({BALANCE_PPM} AS DOUBLE), 6) AS keep_rate,
       COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       ROUND(COALESCE(k.n_kept, 0)
             / CAST(SUM(COALESCE(k.n_kept, 0)) OVER () AS DOUBLE), 6)
         AS kept_share
FROM rates r LEFT JOIN kept k USING (label)
"""


# --------------------------------------------------- k-center coreset

KCENTER_K = 8  # centers selected (seed + 7 greedy rounds)


def sample_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy CORESET selection over the embedding space
    (Gonzalez'85 2-approximation; Sener & Savarese ICLR'18 as the
    active-learning/data-selection incarnation): seed at the min vec_id,
    then K−1 rounds of "take the point farthest from every chosen center"
    — the diversity-maximizing counterpart of `sample_importance_dsir`'s
    distribution matching. Output: (round, center_id, max_min_dist), where
    max_min_dist is the corpus coverage radius at that selection — the
    curve a data-selection owner reads to pick K.

    Scale shape: the running state is ONE slim (vec_id, max_cos) frame —
    max cosine to any chosen center, updated per round against the single
    new center (a 1-row broadcast; k-center needs no pairwise matrix), and
    the next center is a TakeOrderedAndProject top-1, never a sort. Each
    round ends in an eager localCheckpoint (§6 iterative doctrine — the
    state is referenced twice per round). Distances are rounded Arrow
    cosines with id tiebreaks, so the greedy path is deterministic and the
    unrolled-CTE oracle replays it exactly.
    """
    from ..functions.vectors import cosine_rounded_arrow

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cos = cosine_rounded_arrow(
        F.col("c_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )

    def center_frame(cid_frame: DataFrame) -> DataFrame:
        """1-row (center_id, c_emb) for the chosen id frame."""
        return emb.join(
            cid_frame.withColumnRenamed("center_id", "vec_id"), "vec_id"
        ).select(
            F.col("vec_id").alias("center_id"),
            F.col("embedding").alias("c_emb"),
        )

    seed = emb.agg(F.min("vec_id").alias("center_id"))
    picks = [
        seed.select(
            F.lit(0).cast("bigint").alias("round"),
            "center_id",
            F.lit(None).cast("double").alias("max_min_dist"),
        )
    ]
    center = center_frame(seed)
    # One hash repartition BEFORE round 0's checkpoint: the embeddings
    # scan is a single small split, so the per-round Arrow cosine kernel
    # otherwise runs single-task for every round (measured ~0.2 s × K
    # rounds at sf0.1). The state keeps this partitioning through every
    # narrow round (crossJoin-broadcast + select), so the one slim
    # shuffle buys K parallel kernel passes; rounds run with AQE pinned
    # off (the iterative-round doctrine — per-exchange driver jobs and
    # re-planning buy nothing on a checkpointed small state).
    par = max(4, spark.sparkContext.defaultParallelism // 8)
    # pinned_conf holds the process pin lock (r8 verdict item #8)
    from ..plans.conf_pin import pinned_conf

    with pinned_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        state = checkpoint_round(
            emb.repartition(par, "vec_id")
            .crossJoin(F.broadcast(center))
            .select("vec_id", "embedding", cos.alias("max_cos")),
            "sample_kcenter_greedy:round0",
        )
        for rnd in range(1, KCENTER_K):
            # the top-1 row already CARRIES the chosen center's embedding
            # (state keeps it for exactly this), so the per-round
            # emb-table re-join of the old center_frame() disappears —
            # one TakeOrdered feeds both the pick row and the 1-row
            # broadcast for the distance update.
            nxt = (
                state.orderBy(F.asc("max_cos"), F.asc("vec_id"))
                .limit(1)
                .select(
                    F.lit(rnd).cast("bigint").alias("round"),
                    F.col("vec_id").alias("center_id"),
                    F.round(F.lit(1.0) - F.col("max_cos"), 9).alias(
                        "max_min_dist"
                    ),
                    F.col("embedding").alias("c_emb"),
                )
            )
            picks.append(nxt.drop("c_emb"))
            center = nxt.select("center_id", "c_emb")
            state = checkpoint_round(
                state.crossJoin(F.broadcast(center)).select(
                    "vec_id",
                    "embedding",
                    F.greatest("max_cos", cos).alias("max_cos"),
                ),
                f"sample_kcenter_greedy:round{rnd}",
            )
    res = picks[0]
    for p in picks[1:]:
        res = res.unionByName(p)
    return res


def _kcenter_sql() -> str:
    from ..functions.vectors import cosine_rounded_sql

    cos = cosine_rounded_sql("c.c_emb", "e.embedding")
    blocks = [
        """c0 AS (SELECT MIN(vec_id) AS center_id FROM embeddings),
ce0 AS (SELECT e.vec_id AS center_id, e.embedding AS c_emb
        FROM embeddings e JOIN c0 ON c0.center_id = e.vec_id),
s0 AS (
  SELECT e.vec_id, e.embedding, {cos} AS max_cos
  FROM embeddings e CROSS JOIN ce0 c
)""".replace("{cos}", cos)
    ]
    for r in range(1, KCENTER_K):
        p = r - 1
        blocks.append(f"""c{r} AS (
  SELECT vec_id AS center_id, ROUND(1.0 - max_cos, 9) AS max_min_dist
  FROM s{p} ORDER BY max_cos ASC, vec_id ASC LIMIT 1
),
ce{r} AS (SELECT e.vec_id AS center_id, e.embedding AS c_emb
          FROM embeddings e JOIN c{r} ON c{r}.center_id = e.vec_id),
s{r} AS (
  SELECT e.vec_id, e.embedding, GREATEST(e.max_cos, {cos}) AS max_cos
  FROM s{p} e CROSS JOIN ce{r} c
)""")
    ctes = ",\n".join(blocks)
    selects = [
        "SELECT CAST(0 AS BIGINT) AS round, center_id, "
        "CAST(NULL AS DOUBLE) AS max_min_dist FROM c0"
    ] + [
        f"SELECT CAST({r} AS BIGINT), center_id, max_min_dist FROM c{r}"
        for r in range(1, KCENTER_K)
    ]
    return "WITH " + ctes + "\n" + "\nUNION ALL\n".join(selects)


WRES_N = 50  # weighted-reservoir sample size
_WRES_DENOM = float(1 << 60)  # portable_hash64 is 60-bit non-negative


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    IPL 2006): inclusion chance proportional to row weight (here
    o_totalprice — revenue-proportional order selection), exact size
    `WRES_N`, no replacement. Each row draws u = hash-uniform(0,1] and
    keys by u^(1/w); the N LARGEST keys are the sample — the one-pass
    mergeable formulation (per-partition top-N partials merge exactly,
    which is why A-ES is the standard distributed weighted sampler).

    Determinism: u derives from the portable 60-bit md5 hash (rerun- and
    partition-stable, like every sampler here); the key is the log form
    ln(u)/w ROUNDED AT 12 dp so a last-ulp libm divergence between
    engines cannot flip an ordering (grain 1e-12 ≪ double precision at
    the key's ≤0.05 magnitude; residual grain ties break by PK both
    engines). Plan: scan-local key arithmetic → `orderBy().limit(N)`
    (TakeOrderedAndProject — per-partition top-N + driver merge, no
    global sort); the rank window runs over the N-row result.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    u = (portable_hash64(F.col("o_orderkey")) + 1).cast("double") / F.lit(
        _WRES_DENOM
    )
    key = F.round(F.log(u) / F.col("o_totalprice"), 12)
    sel = (
        orders.withColumn("es_key", key)
        .orderBy(F.desc("es_key"), F.asc("o_orderkey"))
        .limit(WRES_N)
    )
    w = Window.orderBy(F.desc("es_key"), F.asc("o_orderkey"))
    return sel.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select(
        "rank",
        "o_orderkey",
        F.col("o_totalprice").alias("weight"),
        "es_key",
    )


WEIGHTED_RESERVOIR_SQL = f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, o_orderkey ASC)
         AS BIGINT) AS rank,
       o_orderkey, o_totalprice AS weight, es_key
FROM (
  SELECT o_orderkey, o_totalprice,
         round(ln(({portable_hash64_sql("o_orderkey")} + 1)
                  / {_WRES_DENOM!r}) / o_totalprice, 12) AS es_key
  FROM orders
)
ORDER BY es_key DESC, o_orderkey ASC
LIMIT {WRES_N}
"""


def sample_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level train/val/test holdout: every order of one customer
    lands in ONE split (scikit-learn GroupShuffleSplit semantics; the
    leakage-safe sibling of `sample_hash_split`'s row-level split).

    Splitting by hashing the GROUP key is the 100 TB shape: the split is a
    scan-local map expression on o_custkey — no group table, no join, no
    shuffle beyond the summary aggregate — and any engine recomputes the
    same assignment from the key alone. The output is the per-split audit
    frame (group/row counts + exact-decimal revenue share), and
    `leaked_groups` — customers seen in >1 split, forced to 0 by
    construction — makes the no-leakage property part of the checked value
    rather than prose.

    Reference frame: split/holdout tooling is absent from the reference
    (`models.rs:349 SamplingStrategy` stops at row sampling); group
    holdout is table stakes for training-data pipelines.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    bucket = portable_hash64(F.col("o_custkey").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = orders.select(
        "o_custkey", "o_totalprice", split.alias("split")
    )
    per_split = tagged.groupBy("split").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_groups"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
    # leakage proof: max splits-per-customer must be 1 → leaked count 0.
    leaked = (
        tagged.groupBy("o_custkey")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_groups")
        )
    )
    total = per_split.agg(
        F.sum(F.col("revenue").cast(DECIMAL_T))
        .cast("double")
        .alias("t_rev")
    )
    return (
        per_split.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "n_groups",
            "n_rows",
            "revenue",
            # both operands are exact-decimal sums cast to double, so the
            # double division is bit-identical in any IEEE-754 engine
            F.round(F.col("revenue") / F.col("t_rev"), 9).alias(
                "revenue_share"
            ),
            "leaked_groups",
        )
        .orderBy("split")
    )


_GROUP_BUCKET = f"{portable_hash64_sql('CAST(o_custkey AS VARCHAR)')} % 100"

GROUP_HOLDOUT_SQL = f"""
WITH tagged AS (
  SELECT o_custkey, o_totalprice,
         CASE WHEN {_GROUP_BUCKET} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {_GROUP_BUCKET} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM orders
),
per_split AS (
  SELECT split,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         {dsum_sql("o_totalprice", "revenue")}
  FROM tagged GROUP BY split
),
leak AS (
  SELECT CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_groups
  FROM (SELECT o_custkey, COUNT(DISTINCT split) AS n_splits
        FROM tagged GROUP BY o_custkey)
)
SELECT split, n_groups, n_rows, revenue,
       round(revenue / (SELECT CAST(SUM(CAST(revenue AS DECIMAL(30,6)))
                                    AS DOUBLE) FROM per_split), 9)
         AS revenue_share,
       (SELECT leaked_groups FROM leak) AS leaked_groups
FROM per_split
ORDER BY split
"""


# Temporal holdout boundaries (module constants — calendar facts, not data
# statistics, so the split is deterministic and scale-free; lake span is
# 1995-01-01..2001-08-01).
TEMPORAL_VAL_START = "2000-01-01"
TEMPORAL_TEST_START = "2001-01-01"


def sample_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based train/val/test holdout (train on the past, evaluate on
    the future — the split every forecasting/recommendation pipeline needs
    instead of a random one) with the entity-overlap audit built in.

    Unlike `sample_group_holdout`, temporal splits legitimately share
    entities across splits — the informative statistic is HOW MANY:
    `n_seen_in_train` counts each split's customers already present in
    train (cold-start share = 1 − seen/customers). Split assignment is a
    scan-local date comparison (no shuffle); the audit costs ONE
    per-customer aggregate + ONE join, both int64-slim.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    split = (
        F.when(F.col("o_orderdate") < TEMPORAL_VAL_START, F.lit("train"))
        .when(F.col("o_orderdate") < TEMPORAL_TEST_START, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = orders.select(
        "o_custkey", "o_totalprice", "o_orderdate", split.alias("split")
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        dsum(F.col("o_totalprice"), "revenue"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
            "first_date"
        ),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
            "last_date"
        ),
    )
    cust = tagged.groupBy("o_custkey").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "in_train"
        )
    )
    seen = (
        tagged.join(cust, "o_custkey")
        .groupBy("split")
        .agg(
            F.countDistinct(
                F.when(F.col("in_train") == 1, F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("n_seen_in_train")
        )
    )
    return per_split.join(seen, "split").orderBy("split")


TEMPORAL_HOLDOUT_SQL = f"""
WITH tagged AS (
  SELECT o_custkey, o_totalprice, o_orderdate,
         CASE WHEN o_orderdate < TIMESTAMP '{TEMPORAL_VAL_START} 00:00:00'
                THEN 'train'
              WHEN o_orderdate < TIMESTAMP '{TEMPORAL_TEST_START} 00:00:00'
                THEN 'val'
              ELSE 'test' END AS split
  FROM orders
),
per_split AS (
  SELECT split,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         {dsum_sql("o_totalprice", "revenue")},
         strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
         strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_date
  FROM tagged GROUP BY split
),
cust AS (
  SELECT o_custkey,
         MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train
  FROM tagged GROUP BY o_custkey
),
seen AS (
  SELECT split,
         CAST(COUNT(DISTINCT CASE WHEN in_train = 1 THEN t.o_custkey END)
              AS BIGINT) AS n_seen_in_train
  FROM tagged t JOIN cust c ON c.o_custkey = t.o_custkey
  GROUP BY split
)
SELECT p.*, s.n_seen_in_train
FROM per_split p JOIN seen s ON s.split = p.split
ORDER BY p.split
"""


QUERIES = {
    "sample_weighted_reservoir": sample_weighted_reservoir,
    "sample_balanced_classes": sample_balanced_classes,
    "sample_neyman_allocation": sample_neyman_allocation,
    "sample_cluster_orders": sample_cluster_orders,
    "sample_importance_dsir": sample_importance_dsir,
    "sample_systematic_orders": sample_systematic_orders,
    "sample_fixed_size_orders": sample_fixed_size_orders,
    "sample_most_recent_orders": sample_most_recent_orders,
    "sample_random_orders": sample_random_orders,
    "sample_stratified_events": sample_stratified_events,
    "sample_by_pk_orders": sample_by_pk_orders,
    "sample_hash_split": sample_hash_split,
    "sample_weighted_mix": sample_weighted_mix,
    "sample_kcenter_greedy": sample_kcenter_greedy,
    "sample_group_holdout": sample_group_holdout,
    "sample_temporal_holdout": sample_temporal_holdout,
}

ORACLES = {
    "sample_weighted_reservoir": WEIGHTED_RESERVOIR_SQL,
    "sample_balanced_classes": BALANCED_SQL,
    "sample_neyman_allocation": _neyman_sql(),
    "sample_cluster_orders": _cluster_sample_sql(),
    "sample_importance_dsir": _dsir_sql(),
    "sample_systematic_orders": SYSTEMATIC_SQL,
    "sample_fixed_size_orders": FIXED_SIZE_SQL,
    "sample_most_recent_orders": MOST_RECENT_SQL,
    "sample_random_orders": RANDOM_SQL,
    "sample_stratified_events": STRATIFIED_SQL,
    "sample_by_pk_orders": BY_PK_SQL,
    "sample_hash_split": SPLIT_SQL,
    "sample_weighted_mix": MIX_SQL,
    "sample_kcenter_greedy": _kcenter_sql(),
    "sample_group_holdout": GROUP_HOLDOUT_SQL,
    "sample_temporal_holdout": TEMPORAL_HOLDOUT_SQL,
}
