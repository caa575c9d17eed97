"""Similarity search over the embeddings table (SURVEY.md §2.F).

- ann_bruteforce_topk: exact top-k cosine neighbors for a probe set. The
  probe side is tiny and broadcast; the corpus streams past it — the right
  shape when k·|probes| ≪ |corpus| (at 100 TB the corpus scan dominates and
  parallelizes perfectly; no shuffle of the corpus).
- ann_ivf_topk: IVF ANN with a TRAINED coarse quantizer. Centroids are
  k-means-refined from a deterministic hash-ordered sample (seeds = the
  √n vectors with the smallest md5(vec_id), KMEANS_ITERS Lloyd steps with
  exact-decimal means so both engines derive bit-identical centroids).
  Assignment is one streaming corpus pass against the closure-captured
  model (functions/vectors.cell_topk_mapper — no corpus×k cross join, no
  wide shuffle); probes search their NPROBE nearest cells — the classic
  inverted-file trade: recall for a |corpus|/√n scan reduction.
  (IVF as in Jégou et al., "Product Quantization for Nearest Neighbor
  Search"; k-means coarse quantizer per Lloyd — public literature.)

Vector math is Arrow-batched numpy kernels with HOF-fold-identical
arithmetic (functions/vectors.py); the DuckDB oracle replays the identical
left-fold order, so values match bit-for-bit.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..plans.roundcheck import checkpoint_round
from ..sources.file_lake import table_fingerprint
from ..functions.vectors import (
    CELL_TOPK_SCHEMA,
    CENTROID_PARTIAL_SCHEMA,
    PQ_ADC_SCHEMA,
    PQ_ENCODE_SCHEMA,
    PQ_PARTIAL_SCHEMA,
    PQ_RESID_ENCODE_SCHEMA,
    cell_topk_mapper,
    centroid_partial_mapper,
    cosine_rounded_arrow,
    cosine_rounded_sql,
    cosine_sql,
    dot_sql,
    ivfpq_adc_mapper,
    merge_centroid_partials,
    pq_adc_mapper,
    pq_encode_mapper,
    SQ_ADC_SCHEMA,
    sq_adc_mapper,
    ivfsq_adc_mapper,
    pq_partial_mapper,
)

N_PROBES = 10  # probe set: vec_id < 10
TOP_K = 5
MIN_CELLS = 8  # floor on the cell count for tiny corpora
KMEANS_ITERS = 2  # fixed Lloyd refinements (determinism > convergence here)
IVF_K = 3
NPROBE = 2  # cells searched per query (the standard IVF recall lever)
# Centroid means accumulate on the decimal(30,9) lattice (exact integer
# 1e-9 units inside centroid_partial_mapper): order-independent, so Spark
# and DuckDB derive bit-identical centroids regardless of partitioning
# (same convention as functions/aggregates.py).


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


def _bruteforce_sql() -> str:
    cos = cosine_rounded_sql("p.embedding", "e.embedding")
    return f"""
WITH probes AS (SELECT vec_id AS query_id, embedding FROM embeddings
                WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM probes p JOIN embeddings e ON e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) t WHERE rank <= {TOP_K}
"""


def _n_cells(n: int) -> int:
    """√n cells (the standard IVF sizing: cell scan cost ≈ assignment cost),
    floored for tiny corpora. Double sqrt to match the SQL mirror exactly."""
    import math

    return max(MIN_CELLS, int(math.floor(math.sqrt(n))))


# Trained coarse quantizers, keyed by (sf_dir, content fingerprint). An IVF
# index is MODEL STATE: built once, queried by every ANN/dedup call against
# the same lake — the exact analog of Faiss's train()/add() split. The
# cached value is the collected centroid rows (k×dim doubles,
# metadata-scale), deterministic, and rides in task closures like a
# broadcast variable. The fingerprint (mtime+size of the parquet files)
# invalidates the model if the table is rewritten in-process, and the lock
# serializes trainers so concurrent sessions can't race the dict.
_CENTROID_CACHE: dict[tuple, list] = {}
_CENTROID_LOCK = threading.Lock()


def trained_centroid_rows(spark: SparkSession, sf_dir: str) -> list:
    """The sf_dir's coarse quantizer — [(cell_id, [double]·dim)] sorted by
    cell_id — trained on the base embeddings table, memoized per
    (lake, content fingerprint). Shared by ANN search and embedding dedup:
    an augmented/duplicated corpus row carries an identical vector, so its
    cell assignment equals its original's under the same model."""
    key = (sf_dir, table_fingerprint(sf_dir, "embeddings"))
    with _CENTROID_LOCK:
        if key in _CENTROID_CACHE:
            return _CENTROID_CACHE[key]
    from ..plans import index_store

    loaded = index_store.try_read_model(index_store.IVF_CENTROIDS, key)
    if loaded is not None:
        # JSON round-trips doubles exactly — the warmed model is
        # bit-identical to the trained one (pinned by the round-trip test)
        rows = [(int(c), [float(x) for x in v]) for c, v in loaded]
    else:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        rows = _train_centroids(emb, _n_cells(emb.count()))
        index_store.write_model(rows, index_store.IVF_CENTROIDS, key)
    with _CENTROID_LOCK:
        # drop stale models for the same lake (rewritten table)
        for k in [k for k in _CENTROID_CACHE if k[0] == sf_dir and k != key]:
            del _CENTROID_CACHE[k]
        _CENTROID_CACHE[key] = rows
    return rows


def _train_centroids(emb: DataFrame, k: int) -> list:
    """Deterministic sampled k-means → centroid rows [(cell_id, vector)].
    Seeds = k smallest md5(vec_id) (a uniform, reproducible sample — one
    distributed top-k, never a global sort), then KMEANS_ITERS Lloyd steps.

    Each step is ONE streaming corpus pass: `centroid_partial_mapper` fuses
    nearest-cell assignment (bit-identical scoring to the search kernel)
    with map-side partial mean state, emitting only (cell_id, cnt,
    unit-sums) per partition — ≤ partitions×k metadata-scale rows, no
    corpus×dim shuffle. The driver merges partials with exact integer
    arithmetic (`merge_centroid_partials`), replaying the
    decimal(30,9)-sum-then-double-divide convention, so centroids stay
    bit-identical to the DuckDB oracle's decimal aggregate regardless of
    partitioning. Model parameters are collected between iterations, so
    iteration i's lineage never nests iteration i-1's pass (collected
    doubles round-trip exactly — determinism is unaffected).
    """
    md5_order = F.md5(F.col("vec_id").cast("string")).alias("o")
    e = F.col("embedding").cast("array<double>")
    seed_rows = (
        emb.select(md5_order, e.alias("c_emb")).orderBy("o").limit(k).collect()
    )
    rows = [(i + 1, list(r["c_emb"])) for i, r in enumerate(seed_rows)]
    emb = emb.cache()
    try:
        for _ in range(KMEANS_ITERS):
            partials = emb.select(e.alias("embedding")).mapInPandas(
                centroid_partial_mapper(rows), CENTROID_PARTIAL_SCHEMA
            )
            rows = merge_centroid_partials(partials.collect())
        return rows
    finally:
        emb.unpersist()


def rank_cells(emb: DataFrame, cent_rows: list, nprobe: int) -> DataFrame:
    """(vec_id, cell_id, rn): every vector's `nprobe` nearest cells, via one
    streaming corpus pass (functions/vectors.cell_topk_mapper). Slim by
    design — no embedding payload moves; callers re-attach vectors with a
    co-partitioned join on vec_id where needed."""
    return emb.mapInPandas(
        cell_topk_mapper(cent_rows, nprobe), CELL_TOPK_SCHEMA
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: one streaming pass assigns every vector to its nearest
    trained cell, probes search their NPROBE nearest cells (multi-cell
    probing recovers neighbors that straddle a cell boundary — the standard
    IVF recall/cost dial), and only in-cell candidates get an exact cosine.

    The candidate join is slim-first: (vec_id, cell_id) ⋈ broadcast probes,
    THEN vectors re-attach via one join on vec_id — corpus embeddings never
    ride through the cell match."""
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = trained_centroid_rows(spark, sf_dir)
    # cache: assigned and probes both read this frame — without it the
    # corpus assignment pass (scan + Arrow kernel) runs once per branch
    # (ReuseExchange is unreliable for self-referencing subtrees).
    cells = tracked_cache(rank_cells(emb, cent_rows, NPROBE))
    assigned = cells.filter(F.col("rn") == 1).select("vec_id", "cell_id")
    # probes keep their NPROBE nearest cells (not just the assignment cell)
    probes = (
        cells.filter((F.col("vec_id") < N_PROBES) & (F.col("rn") <= NPROBE))
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cell_id").alias("q_cell"),
        )
    )
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        assigned.join(
            F.broadcast(probes),
            (F.col("cell_id") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .join(emb, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= IVF_K)
    )


def embed_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering report over the trained IVF cells: per cell, vector
    count, distinct labels, the dominant label and its purity — the table a
    topic/domain-mix plan reads (k-means cells stand in for topics exactly
    as in embedding-based corpus curation; the `label` column plays the
    ground-truth side of a cluster-purity evaluation).

    Plan: reuses the session-memoized coarse quantizer (no training cost
    when ANN/dedup already ran), ONE streaming assignment pass over the
    corpus (`rank_cells`, rn=1), a slim co-partitioned join to re-attach
    the label, then (cell, label) partial-agg counts folded to per-cell
    stats — every level map-side combinable; the dominant label is an
    argmax over the aggregated (|cells|×|labels|, metadata-scale) frame.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    assigned = (
        rank_cells(emb.select("vec_id", "embedding"), cent_rows, 1)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    counts = (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cell_id", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("cell_id").orderBy(F.desc("c"), F.asc("label"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .groupBy("cell_id")
        .agg(
            F.sum("c").alias("n_vectors"),
            F.count(F.lit(1)).cast("bigint").alias("n_labels"),
            F.max(F.when(F.col("rn") == 1, F.col("label"))).alias("top_label"),
            F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("top_label_n"),
            F.round(
                F.max(F.when(F.col("rn") == 1, F.col("c"))) / F.sum("c"), 9
            ).alias("purity"),
        )
    )


def _cluster_report_sql(dim: int = 64) -> str:
    """Replays quantizer training + assignment (same CTEs as the IVF oracle)
    then the per-cell label aggregate."""
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.label, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
counts AS (
  SELECT cell_id, label, COUNT(*) AS c
  FROM final WHERE rn = 1 GROUP BY cell_id, label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cell_id ORDER BY c DESC, label ASC) AS rn
  FROM counts
)
SELECT cell_id, CAST(SUM(c) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_labels,
       MAX(CASE WHEN rn = 1 THEN label END) AS top_label,
       CAST(MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top_label_n,
       ROUND(MAX(CASE WHEN rn = 1 THEN c END) * 1.0 / SUM(c), 9) AS purity
FROM ranked GROUP BY cell_id
"""


IVF_SQL_DIM = 64  # test-table embedding dim; Spark introspects, SQL is static


def train_sql_ctes(
    source: str,
    dim: int = IVF_SQL_DIM,
    prefix: str = "",
    k_sql: str | None = None,
) -> tuple[str, str]:
    """CTE chain mirroring `_train_centroids` over relation ``source``.

    Returns (cte_fragment, final_centroid_cte_name); the fragment expects to
    be spliced into a WITH list. Shared by the IVF oracle and the
    IVF-bucketed embedding-dedup oracle so both replay the same quantizer.
    ``prefix`` namespaces the CTE names (so several trainings — e.g. the PQ
    oracle's per-subspace codebooks — coexist in one WITH list); ``k_sql``
    overrides the √n cell-count expression with a fixed codebook size.
    """
    p = prefix
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    mean_exprs = ", ".join(
        f"CAST(SUM(CAST(CAST(embedding[{j + 1}] AS DOUBLE) AS DECIMAL(30,9)))"
        f" AS DOUBLE) / COUNT(*)"
        for j in range(dim)
    )
    cells_cte = (
        f"{p}cells AS (SELECT {k_sql} AS k)"
        if k_sql is not None
        else f"""{p}cells AS (
  SELECT GREATEST({MIN_CELLS}, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k
  FROM {source}
)"""
    )
    parts = [
        f"""{cells_cte},
{p}seeds_ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR))) AS BIGINT) AS cell_id,
         CAST(embedding AS DOUBLE[]) AS c_emb
  FROM {source}
),
{p}seeds AS (
  SELECT cell_id, c_emb FROM {p}seeds_ranked, {p}cells WHERE cell_id <= k
)"""
    ]
    prev = f"{p}seeds"
    for i in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""{p}a{i} AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM {source} e CROSS JOIN {prev} c
),
{p}c{i} AS (
  SELECT cell_id, list_value({mean_exprs}) AS c_emb
  FROM {p}a{i} WHERE rn = 1 GROUP BY cell_id
)"""
        )
        prev = f"{p}c{i}"
    return ",\n".join(parts), prev


def _ivf_sql(dim: int = IVF_SQL_DIM) -> str:
    """Mirror of ann_ivf_topk incl. quantizer training, Lloyd loop unrolled.

    Means use the identical decimal-sum-then-double-divide so centroids are
    bit-equal to Spark's; cell ranking orders by RAW cosine (bit-identical
    doubles on both engines) with cell_id tie-breaks, matching the kernel.
    """
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    cos = cosine_rounded_sql("p.q_emb", "a.embedding")
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM final WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cell_id AS q_cell
  FROM final WHERE vec_id < {N_PROBES} AND rn <= {NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM probes p JOIN assigned a
    ON a.cell_id = p.q_cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) t WHERE rank <= {IVF_K}
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against brute-force ground truth — the
    standard ANN quality metric (measure, don't guess: nprobe/cell-count
    tuning reads this table). Per probe: |IVF top-k ∩ exact top-k| / k.

    Plan: both searches share the cached cell-assignment pass and the
    broadcast probe side; the comparison joins two k×|probes| result
    frames — metadata-scale. Exact top-k truncates to IVF_K so the sets
    are the same size.
    """
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    bf = ann_bruteforce_topk(spark, sf_dir).filter(
        F.col("rank") <= IVF_K
    ).select("query_id", "neighbor_id")
    matches = (
        bf.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    probes = bf.select("query_id").distinct()
    return (
        probes.join(matches, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(IVF_K)), 6
            ).alias("recall_at_k"),
        )
    )


def _recall_sql() -> str:
    return f"""
WITH ivf AS (SELECT query_id, neighbor_id FROM ({_ivf_sql()}) t),
bf AS (SELECT query_id, neighbor_id FROM ({_bruteforce_sql()}) t
       WHERE rank <= {IVF_K}),
matches AS (
  SELECT bf.query_id, COUNT(*) AS hits
  FROM bf JOIN ivf USING (query_id, neighbor_id)
  GROUP BY bf.query_id
)
SELECT p.query_id, CAST(COALESCE(m.hits, 0) AS BIGINT) AS hits,
       ROUND(COALESCE(m.hits, 0) / {float(IVF_K)}, 6) AS recall_at_k
FROM (SELECT DISTINCT query_id FROM bf) p
LEFT JOIN matches m ON m.query_id = p.query_id
"""


# ----------------------------------------------------------------- index add

# "Newly arrived" vectors for the index-add step: a deterministic tenth of
# the table stands in for an ingest batch (same convention as
# dedup.DELTA_PCT's delta-batch flag).
ADD_BATCH_RESIDUE = 7


def ann_ivf_add_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Faiss ``add()`` lifecycle step: assign an ingest batch of new
    vectors to the already-trained coarse quantizer — NO retraining, no
    touch of the stored corpus. Completes the index lifecycle next to
    train (`trained_centroid_rows`) and search (`ann_ivf_topk`), and is
    the per-ingest production mode at 100 TB: each batch streams once
    through `cell_topk_mapper` (nprobe=1 — storage assignment) against
    the memoized model riding in the task closure; output is the
    (vec_id, cell_id) posting-list delta.

    Oracle replays quantizer training + the assignment rank over the same
    batch (reference analog: the collect-side incremental refresh of an
    index inventory; model-state reuse mirrors `adapters/*` connection
    pooling only in spirit — cited for lifecycle parity, not mechanism).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    delta = emb.filter(F.col("vec_id") % 10 == ADD_BATCH_RESIDUE)
    cent = trained_centroid_rows(spark, sf_dir)
    return rank_cells(delta, cent, nprobe=1).select("vec_id", "cell_id")


def _add_batch_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
  WHERE e.vec_id % 10 = {ADD_BATCH_RESIDUE}
)
SELECT vec_id, cell_id FROM final WHERE rn = 1
"""


# -------------------------------------------------- product quantization

PQ_M = 8  # subspaces (dim 64 → 8 dims each)
PQ_CODES = 16  # codebook entries per subspace

# PQ codebooks are model state exactly like the IVF coarse quantizer:
# trained once per (lake, content fingerprint), shared by every encode /
# search call. Reuses _CENTROID_LOCK — contention is nil and one lock
# keeps the invalidation story identical.
_PQ_CACHE: dict[tuple, list] = {}


def trained_pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Per-subspace PQ codebooks — list over subspaces of [(code_id,
    subvector)] — trained by the SAME deterministic seed+Lloyd procedure
    as the coarse quantizer (`_train_centroids`), applied to each
    subvector slice with a fixed k=PQ_CODES. Memoized per lake content.

    Training runs PQ_M × KMEANS_ITERS streaming passes over the
    embeddings table (bounded: production PQ trains on a hash-sample of
    the corpus, exactly like Faiss — the m× pass count applies to the
    sample, not 100 TB)."""
    key = (sf_dir, table_fingerprint(sf_dir, "embeddings"))
    with _CENTROID_LOCK:
        if key in _PQ_CACHE:
            return _PQ_CACHE[key]
    from ..plans import index_store

    loaded = index_store.try_read_model(index_store.PQ_CODEBOOKS, key)
    if loaded is not None:
        books = [
            [(int(c), [float(x) for x in v]) for c, v in book]
            for book in loaded
        ]
        with _CENTROID_LOCK:
            for k in [k for k in _PQ_CACHE if k[0] == sf_dir and k != key]:
                del _PQ_CACHE[k]
            _PQ_CACHE[key] = books
        return books
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = emb.select(F.size("embedding").alias("d")).head()["d"]
    dsub = dim // PQ_M
    # Seeds: the k smallest md5(vec_id) FULL vectors, sliced per subspace —
    # md5 ordering doesn't depend on the vector, so this equals training
    # each subspace on its own sliced frame (one collect instead of m).
    md5_order = F.md5(F.col("vec_id").cast("string")).alias("o")
    seed_rows = (
        emb.select(md5_order, F.col("embedding").alias("c_emb"))
        .orderBy("o")
        .limit(PQ_CODES)
        .collect()
    )
    books = [
        [
            (i + 1, list(r["c_emb"])[s * dsub : (s + 1) * dsub])
            for i, r in enumerate(seed_rows)
        ]
        for s in range(PQ_M)
    ]
    # Fused Lloyd: ONE streaming corpus pass per iteration trains all m
    # codebooks (pq_partial_mapper quantizes each batch once and assigns
    # every subspace); driver merge reuses merge_centroid_partials per
    # subspace — identical exact-decimal means, so codebooks are
    # bit-equal to per-subspace training and to the SQL replay.
    cached = emb.cache()
    try:
        for _ in range(KMEANS_ITERS):
            partials = cached.select("embedding").mapInPandas(
                pq_partial_mapper(books), PQ_PARTIAL_SCHEMA
            )
            rows = partials.collect()
            books = [
                merge_centroid_partials(
                    [r for r in rows if int(r["sub"]) == s]
                )
                for s in range(PQ_M)
            ]
    finally:
        cached.unpersist()
    index_store.write_model(books, index_store.PQ_CODEBOOKS, key)
    with _CENTROID_LOCK:
        for k in [k for k in _PQ_CACHE if k[0] == sf_dir and k != key]:
            del _PQ_CACHE[k]
        _PQ_CACHE[key] = books
    return books


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate nearest neighbors (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"): vectors compress to
    PQ_M codebook indices; search scores the CODES against per-probe
    lookup tables — the asymmetric distance computation that makes
    billion-vector scans memory-resident at 100 TB (the corpus ships
    m ints per vector through the scan; original vectors never move).

    Pipeline: one encode pass (`pq_encode_mapper`, all subspaces fused)
    → one ADC scan (`pq_adc_mapper`; per-batch top-k cut on raw scores)
    → a final rank window over ≤ batches×probes×k slim rows. Similarity
    is the approximate inner product Σ_s ⟨q_s, codebook_s[code]⟩; the
    oracle replays codebook training, encoding, and the literal
    left-assoc subspace sum.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = trained_pq_codebooks(spark, sf_dir)
    codes = emb.mapInPandas(pq_encode_mapper(books), PQ_ENCODE_SCHEMA)
    probe_rows = sorted(
        emb.filter(F.col("vec_id") < N_PROBES).collect(),
        key=lambda r: r["vec_id"],
    )
    dsub = len(books[0][0][1])
    qids, tables = [], []
    for r in probe_rows:
        q = [float(x) for x in r["embedding"]]
        qids.append(int(r["vec_id"]))
        t = []
        for s, cb in enumerate(books):
            row = [0.0] * (PQ_CODES + 1)
            qs = q[s * dsub : (s + 1) * dsub]
            for code_id, cvec in cb:
                acc = 0.0
                for i in range(dsub):
                    acc = acc + qs[i] * float(cvec[i])
                row[int(code_id)] = acc
            t.append(row)
        tables.append(t)
    cand = codes.mapInPandas(
        pq_adc_mapper(tables, qids, IVF_K), PQ_ADC_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("score", 9).alias("score_pq"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )




def pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ/ADC search against exact ground truth — the
    COMPRESSION-loss measurement (64× smaller vectors buy how much
    recall?), completing the quality triad: `ann_recall_report` scores the
    IVF candidate-generation loss, `ann_nprobe_curve` its dial, and this
    one the quantization loss. Per probe: |PQ top-k ∩ exact top-k| / k.

    Both searches are the shipped operators; the comparison joins two
    k×|probes| frames — metadata-scale.
    """
    pq = ann_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    bf = (
        ann_bruteforce_topk(spark, sf_dir)
        .filter(F.col("rank") <= IVF_K)
        .select("query_id", "neighbor_id")
    )
    matches = (
        bf.join(pq, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    probes = bf.select("query_id").distinct()
    return probes.join(matches, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(IVF_K)), 6
        ).alias("recall_at_k"),
    )


def _pq_recall_sql() -> str:
    return f"""
SELECT b.query_id,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
       ROUND(COUNT(p.neighbor_id) / {float(IVF_K)}, 6) AS recall_at_k
FROM (SELECT query_id, neighbor_id FROM ({_bruteforce_sql()})
      WHERE rank <= {IVF_K}) b
LEFT JOIN (SELECT query_id, neighbor_id FROM ({_pq_sql()})) p
  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


def _pq_sql(dim: int = IVF_SQL_DIM) -> str:
    dsub = dim // PQ_M
    parts, code_ctes = [], []
    for s in range(PQ_M):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f"sub{s} AS (SELECT vec_id, "
            f"CAST(embedding AS DOUBLE[])[{lo}:{hi}] AS embedding "
            f"FROM embeddings)"
        )
        ctes, cent = train_sql_ctes(
            f"sub{s}", dim=dsub, prefix=f"s{s}_", k_sql=str(PQ_CODES)
        )
        parts.append(ctes)
        cos_assign = cosine_sql("c.c_emb", "e.embedding")
        parts.append(
            f"""enc{s} AS (
  SELECT e.vec_id, c.cell_id AS code,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM sub{s} e CROSS JOIN {cent} c
),
code{s} AS (SELECT vec_id, code FROM enc{s} WHERE rn = 1)"""
        )
        code_ctes.append((f"code{s}", cent))
    joins = "\n  ".join(
        f"JOIN code{s} ON code{s}.vec_id = x.vec_id "
        f"JOIN {cent} cb{s} ON cb{s}.cell_id = code{s}.code"
        for s, (_, cent) in enumerate(code_ctes)
    )
    score = " + ".join(
        f"({dot_sql(f'p.q[{s * dsub + 1}:{(s + 1) * dsub}]', f'cb{s}.c_emb')})"
        for s in range(PQ_M)
    )
    joined_parts = ",\n".join(parts)
    return f"""
WITH {joined_parts},
probes AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id < {N_PROBES}
),
x AS (SELECT vec_id FROM embeddings),
scored AS (
  SELECT p.query_id, x.vec_id AS neighbor_id, {score} AS score
  FROM probes p CROSS JOIN x
  {joins}
  WHERE x.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, ROUND(score, 9) AS score_pq, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT)
    AS rank
  FROM scored
) t WHERE rank <= {IVF_K}
"""


# --------------------------------------------------- embedding outlier scan

# Vectors whose cosine to their own (nearest) trained centroid falls below
# this are far from EVERY cluster — embedding-space noise. On this corpus
# the threshold sits at ≈ the 5th percentile of the distance-to-centroid
# distribution (measured; min 0.156, p5 0.229, median 0.348).
OUTLIER_COS_T = 0.23


def embedding_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space noise detection for corpus curation: vectors whose
    similarity to their ASSIGNED (nearest) IVF centroid is below
    OUTLIER_COS_T — by definition of the assignment, these are far from
    every cluster center, i.e. the mis-embedded/garbage rows an
    embedding-based curation pass quarantines before training.

    Plan: the memoized coarse quantizer's ONE streaming assignment pass
    (`rank_cells`, rn=1), a slim join to re-attach the vector, a broadcast
    k-row centroid join, one Arrow cosine per vector, filter. No shuffle
    beyond the vec_id join; model state rides in closures/broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    cdf = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cent_rows],
        "cell_id bigint, c_emb array<double>",
    )
    assigned = (
        rank_cells(emb, cent_rows, 1)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    cos = cosine_rounded_arrow(F.col("embedding"), F.col("c_emb"))
    return (
        assigned.join(emb, "vec_id")
        .join(F.broadcast(cdf), "cell_id")
        .select("vec_id", "cell_id", cos.alias("cos_to_centroid"))
        .filter(F.col("cos_to_centroid") < OUTLIER_COS_T)
    )


def _embedding_outlier_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    cos_out = cosine_rounded_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, c.cell_id, {cos_out} AS cos_to_centroid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
)
SELECT vec_id, cell_id, cos_to_centroid
FROM final WHERE rn = 1 AND cos_to_centroid < {OUTLIER_COS_T}
"""


# ---------------------------------------------------------- range search

# Radius: report every neighbor at least this similar. Calibrated to ≈ the
# p90 of in-cell pair similarity on this synthetic lake (near-uniform random
# vectors top out around cos 0.36-0.49 between distinct rows) so the result
# set is non-vacuous at every SF; a real embedding corpus sets a semantic
# threshold here the same way.
RANGE_COS_T = 0.2


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — the Faiss `range_search` mode next to
    top-k: ALL neighbors with cosine ≥ RANGE_COS_T for each probe, not a
    fixed k. The right query when the caller needs "everything this
    similar" (dedup candidates, recall-complete retrieval) and result
    cardinality is data-dependent.

    Plan: identical scale shape to ann_ivf_topk — shared cached cell
    assignment, NPROBE probed cells, slim-first candidate join, exact
    Arrow cosine — but the filter is a radius, not a rank window (no sort
    at all: the similarity threshold is a scan-local predicate).
    """
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = trained_centroid_rows(spark, sf_dir)
    cells = tracked_cache(rank_cells(emb, cent_rows, NPROBE))
    assigned = cells.filter(F.col("rn") == 1).select("vec_id", "cell_id")
    probes = (
        cells.filter((F.col("vec_id") < N_PROBES) & (F.col("rn") <= NPROBE))
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cell_id").alias("q_cell"),
        )
    )
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    return (
        assigned.join(
            F.broadcast(probes),
            (F.col("cell_id") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .join(emb, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= RANGE_COS_T)
    )


def _range_search_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    cos = cosine_rounded_sql("p.q_emb", "a.embedding")
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM final WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cell_id AS q_cell
  FROM final WHERE vec_id < {N_PROBES} AND rn <= {NPROBE}
)
SELECT p.query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
FROM probes p JOIN assigned a
  ON a.cell_id = p.q_cell AND a.vec_id <> p.query_id
WHERE {cos} >= {RANGE_COS_T}
"""


# -------------------------------------------------- embedding dimension QA

# A dimension whose population std falls below this is "collapsed" — it
# carries no signal (a dead ReLU column, a truncated export, a zero-padded
# tail), wastes index bytes, and distorts nothing-but-noise distances.
DIM_COLLAPSED_STD = 1e-6


def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health: mean, population std, min/max, and
    the collapsed flag — the embedding-table QA pass (dead or constant
    dimensions indicate a broken encoder export and shrink effective
    dimensionality for every ANN structure built on the table).

    Plan: posexplode → groupBy(dim) with exact-decimal sums — the explode
    is collapsed by map-side partial aggregation before the exchange, so
    the shuffle carries ≤ partitions×dim partial rows, never corpus×dim.
    Std derives from the decimal power sums with the same expression tree
    in both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    dec = "decimal(30,9)"
    agg = emb.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).cast("double").alias("s2"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    std = F.sqrt(F.greatest(F.lit(0.0), var))
    return agg.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round(mean, 9).alias("mean"),
        F.round(std, 9).alias("std_pop"),
        F.round("mn", 9).alias("min_v"),
        F.round("mx", 9).alias("max_v"),
        (std < DIM_COLLAPSED_STD).cast("int").alias("collapsed"),
    )


EMBED_DIM_STATS_SQL = f"""
WITH ex AS (
  SELECT u.dim - 1 AS dim, u.v
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                       unnest(CAST(embedding AS DOUBLE[])) AS v) u
),
agg AS (
  SELECT dim, COUNT(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(30,9))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v * v AS DECIMAL(30,9))) AS DOUBLE) AS s2,
         MIN(v) AS mn, MAX(v) AS mx
  FROM ex GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
       ROUND(s1 / n, 9) AS mean,
       ROUND(SQRT(GREATEST(0.0, s2 / n - (s1 / n) * (s1 / n))), 9) AS std_pop,
       ROUND(mn, 9) AS min_v,
       ROUND(mx, 9) AS max_v,
       CAST(SQRT(GREATEST(0.0, s2 / n - (s1 / n) * (s1 / n)))
            < {DIM_COLLAPSED_STD} AS INT) AS collapsed
FROM agg
"""


# ------------------------------------------------------- IVFADC (IVF + PQ)

# Residual PQ codebooks (IVFPQ model state): trained on x − c(x) over the
# session's coarse quantizer — memoized like the other two models.
_RESID_PQ_CACHE: dict[tuple, list] = {}


def _fold_dot(a: list, b: list) -> float:
    """Driver-side exact left fold of functions/vectors.dot — bit-identical
    to the numpy dimension-at-a-time kernels and the DuckDB list_reduce."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _fold_cos(a: list, b: list) -> float:
    import math

    na = math.sqrt(_fold_dot(a, a))
    nb = math.sqrt(_fold_dot(b, b))
    return _fold_dot(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0


def _nearest_cell(vec: list, cent_rows: list) -> tuple:
    """(cell_id, centroid) of the nearest coarse cell — exact-fold cosine,
    ties to the lowest cell_id (cent_rows sorted by cell_id; strict >
    keeps the earlier winner)."""
    best = None
    best_cos = None
    for cid, cvec in cent_rows:
        c = _fold_cos(cvec, vec)
        if best_cos is None or c > best_cos:
            best, best_cos = (cid, cvec), c
    return best


def trained_residual_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Residual PQ codebooks — the IVFPQ model (Jégou et al. §IV, IVFADC):
    PQ trained on residuals x − c(x) against the session's coarse
    quantizer, so codes quantize the DISPLACEMENT within a cell (much
    lower quantization error than coding raw vectors at equal bits).
    Memoized per (lake, content fingerprint) like the other model state.

    Seeds are the PQ_CODES smallest-md5(vec_id) RESIDUAL vectors (md5
    ordering is vector-independent, so the seed ids equal the raw-PQ
    seeds; residualization happens driver-side with the exact fold).
    Each Lloyd step is ONE streaming pass: pq_partial_mapper residualizes
    the batch against the closure-captured coarse model, then trains all
    m codebooks fused — no materialized residual table, exactly how a
    production trainer streams x − c(x) on the fly.
    """
    key = (sf_dir, table_fingerprint(sf_dir, "embeddings"))
    with _CENTROID_LOCK:
        if key in _RESID_PQ_CACHE:
            return _RESID_PQ_CACHE[key]
    from ..plans import index_store

    loaded = index_store.try_read_model(
        index_store.RESID_PQ_CODEBOOKS, key
    )
    if loaded is not None:
        books = [
            [(int(c), [float(x) for x in v]) for c, v in book]
            for book in loaded
        ]
        with _CENTROID_LOCK:
            for k in [
                k for k in _RESID_PQ_CACHE if k[0] == sf_dir and k != key
            ]:
                del _RESID_PQ_CACHE[k]
            _RESID_PQ_CACHE[key] = books
        return books
    cent_rows = trained_centroid_rows(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = emb.select(F.size("embedding").alias("d")).head()["d"]
    dsub = dim // PQ_M
    md5_order = F.md5(F.col("vec_id").cast("string")).alias("o")
    seed_rows = (
        emb.select(md5_order, F.col("embedding").alias("c_emb"))
        .orderBy("o")
        .limit(PQ_CODES)
        .collect()
    )
    seed_resids = []
    for r in seed_rows:
        v = [float(x) for x in r["c_emb"]]
        _cid, cvec = _nearest_cell(v, cent_rows)
        seed_resids.append([x - float(c) for x, c in zip(v, cvec)])
    books = [
        [
            (i + 1, rv[s * dsub : (s + 1) * dsub])
            for i, rv in enumerate(seed_resids)
        ]
        for s in range(PQ_M)
    ]
    cached = emb.cache()
    try:
        for _ in range(KMEANS_ITERS):
            partials = cached.select("embedding").mapInPandas(
                pq_partial_mapper(books, cent_rows=cent_rows),
                PQ_PARTIAL_SCHEMA,
            )
            rows = partials.collect()
            books = [
                merge_centroid_partials(
                    [r for r in rows if int(r["sub"]) == s]
                )
                for s in range(PQ_M)
            ]
    finally:
        cached.unpersist()
    index_store.write_model(books, index_store.RESID_PQ_CODEBOOKS, key)
    with _CENTROID_LOCK:
        for k in [k for k in _RESID_PQ_CACHE if k[0] == sf_dir and k != key]:
            del _RESID_PQ_CACHE[k]
        _RESID_PQ_CACHE[key] = books
    return books


def _ivfpq_probe_model(
    emb: DataFrame, cent_rows: list, books: list
) -> tuple[list, list, list, list]:
    """Driver-side IVFADC probe state shared by `ann_ivfpq_topk` and
    `ann_rerank_topk`: (qids, ADC lookup tables, probed cell ids per
    query, per-cell coarse bias ⟨q, c⟩) for the N_PROBES query set —
    metadata-scale lists captured into the scan closure."""
    probe_rows = sorted(
        emb.filter(F.col("vec_id") < N_PROBES).collect(),
        key=lambda r: r["vec_id"],
    )
    dsub = len(books[0][0][1])
    qids, tables, probe_cells, cell_bias = [], [], [], []
    for r in probe_rows:
        q = [float(x) for x in r["embedding"]]
        qids.append(int(r["vec_id"]))
        ranked = sorted(
            ((_fold_cos(cvec, q), cid, cvec) for cid, cvec in cent_rows),
            key=lambda t: (-t[0], t[1]),
        )[:NPROBE]
        probe_cells.append([cid for _c, cid, _v in ranked])
        cell_bias.append([_fold_dot(cvec, q) for _c, _cid, cvec in ranked])
        t = []
        for s, cb in enumerate(books):
            row = [0.0] * (PQ_CODES + 1)
            qs = q[s * dsub : (s + 1) * dsub]
            for code_id, cvec in cb:
                row[int(code_id)] = _fold_dot(qs, cvec)
            t.append(row)
        tables.append(t)
    return qids, tables, probe_cells, cell_bias


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search (Jégou et al. IVFPQ — the billion-scale Faiss mode):
    coarse quantizer restricts each probe to its NPROBE inverted lists,
    residual PQ codes score candidates by lookup. Under inner product
    ⟨q, c + r⟩ = ⟨q, c⟩ + ⟨q, r⟩, so the residual ADC tables are built
    from q once per probe (cell-independent) and only the scalar coarse
    term ⟨q, c⟩ varies per probed cell.

    Pipeline: ONE fused encode pass (assign cell → residualize → PQ-encode,
    `pq_encode_mapper(cent_rows=…)`) emits the (vec_id, cell_id, codes)
    posting list; ONE ADC scan (`ivfpq_adc_mapper`) scores only rows whose
    cell is probed, with batch-local top-k; a final rank window runs over
    ≤ batches×probes×k slim rows. The corpus vectors never move after the
    encode pass — the scan ships m ints + a cell id per vector.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    books = trained_residual_codebooks(spark, sf_dir)
    codes = emb.mapInPandas(
        pq_encode_mapper(books, cent_rows=cent_rows), PQ_RESID_ENCODE_SCHEMA
    )
    qids, tables, probe_cells, cell_bias = _ivfpq_probe_model(
        emb, cent_rows, books
    )
    cand = codes.mapInPandas(
        ivfpq_adc_mapper(tables, qids, probe_cells, cell_bias, IVF_K),
        PQ_ADC_SCHEMA,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("score", 9).alias("score_ivfpq"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _ivfpq_scored_ctes(dim: int = IVF_SQL_DIM) -> str:
    """Full IVFADC replay CTE chain: coarse training → assignment →
    residual relation → per-subspace residual-codebook training → encode →
    probed-cell ADC scoring with the literal bias + t1 + … + tm left-assoc
    sum. Terminates in `scored(query_id, neighbor_id, score)` (plus the
    `probes` CTE), shared by the IVFPQ and rerank oracles."""
    dsub = dim // PQ_M
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    parts = [
        train_ctes,
        f"""cassign AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (SELECT vec_id, embedding, cell_id FROM cassign WHERE rn = 1),
resid AS (
  SELECT a.vec_id, a.cell_id,
         list_transform(list_zip(a.embedding, c.c_emb), p -> p[1] - p[2])
           AS embedding
  FROM assigned a JOIN {cent} c ON c.cell_id = a.cell_id
)""",
    ]
    rcents = []
    for s in range(PQ_M):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f"rsub{s} AS (SELECT vec_id, embedding[{lo}:{hi}] AS embedding "
            f"FROM resid)"
        )
        ctes, rcent = train_sql_ctes(
            f"rsub{s}", dim=dsub, prefix=f"r{s}_", k_sql=str(PQ_CODES)
        )
        parts.append(ctes)
        ca = cosine_sql("c.c_emb", "e.embedding")
        parts.append(
            f"""renc{s} AS (
  SELECT e.vec_id, c.cell_id AS code,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {ca} DESC, c.cell_id ASC) AS rn
  FROM rsub{s} e CROSS JOIN {rcent} c
),
rcode{s} AS (SELECT vec_id, code FROM renc{s} WHERE rn = 1)"""
        )
        rcents.append(rcent)
    qc = dot_sql("c.c_emb", "p.q")
    qcos = cosine_sql("c.c_emb", "p.q")
    parts.append(
        f"""probes AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id < {N_PROBES}
),
pcells AS (
  SELECT query_id, cell_id, qc FROM (
    SELECT p.query_id, c.cell_id, {qc} AS qc,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {qcos} DESC, c.cell_id ASC) AS rn
    FROM probes p CROSS JOIN {cent} c
  ) t WHERE rn <= {NPROBE}
)"""
    )
    joins = "\n  ".join(
        f"JOIN rcode{s} ON rcode{s}.vec_id = a.vec_id "
        f"JOIN {rcents[s]} rcb{s} ON rcb{s}.cell_id = rcode{s}.code"
        for s in range(PQ_M)
    )
    terms = " + ".join(
        f"({dot_sql(f'p.q[{s * dsub + 1}:{(s + 1) * dsub}]', f'rcb{s}.c_emb')})"
        for s in range(PQ_M)
    )
    joined = ",\n".join(parts)
    return f"""{joined},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         pc.qc + {terms} AS score
  FROM probes p
  JOIN pcells pc ON pc.query_id = p.query_id
  JOIN assigned a ON a.cell_id = pc.cell_id AND a.vec_id <> p.query_id
  {joins}
)"""


def _ivfpq_sql(dim: int = IVF_SQL_DIM) -> str:
    """Full IVFADC replay ending in the top-IVF_K rank cut (see
    `_ivfpq_scored_ctes` for the shared CTE chain)."""
    return f"""
WITH {_ivfpq_scored_ctes(dim)}
SELECT query_id, neighbor_id, ROUND(score, 9) AS score_ivfpq, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT)
    AS rank
  FROM scored
) t WHERE rank <= {IVF_K}
"""


RERANK_C = 12  # stage-1 ADC candidate depth entering the exact rerank


def ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage REFINE search (Faiss IndexRefineFlat; the re-ranking
    production pattern every compressed index ships behind): stage 1
    scores the compressed codes (IVFADC — m ints per vector, corpus
    vectors never move) and keeps a `RERANK_C`-deep candidate shortlist
    per query; stage 2 re-attaches the ORIGINAL vectors for only those
    |Q|×C candidates and reranks by exact cosine, answering the final
    top-`IVF_K` with both scores so the refine lift is visible. This
    recovers the exact-ordering quality PQ distortion loses while paying
    full-precision distance for C candidates instead of the corpus.

    Scale shape: stage 1 is `ann_ivfpq_topk`'s exact pipeline (one fused
    encode pass + one ADC scan with batch-local top-C); the shortlist is
    |Q|×C rows — metadata scale — so the stage-2 vector re-attach is one
    slim key join into the corpus and the probe side broadcasts
    (N_PROBES rows by module constant). Rounded Arrow cosines + id
    tiebreaks keep the rerank oracle-replayable.
    """
    from ..plans.cache import release_caches

    release_caches()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    books = trained_residual_codebooks(spark, sf_dir)
    codes = emb.mapInPandas(
        pq_encode_mapper(books, cent_rows=cent_rows), PQ_RESID_ENCODE_SCHEMA
    )
    qids, tables, probe_cells, cell_bias = _ivfpq_probe_model(
        emb, cent_rows, books
    )
    cand = codes.mapInPandas(
        ivfpq_adc_mapper(tables, qids, probe_cells, cell_bias, RERANK_C),
        PQ_ADC_SCHEMA,
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        cand.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= RERANK_C)
        .select(
            "query_id", "neighbor_id", F.round("score", 9).alias("score_adc")
        )
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    nvec = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    exact = (
        shortlist.join(nvec, "neighbor_id")
        .join(F.broadcast(probes), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "score_adc",
            cosine_rounded_arrow(F.col("q_emb"), F.col("n_emb")).alias(
                "score_exact"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_exact"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= IVF_K)
        .select(
            "query_id", "rank", "neighbor_id", "score_exact", "score_adc"
        )
    )


def _rerank_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_exact = cosine_rounded_sql(
        "p.q", "CAST(ne.embedding AS DOUBLE[])"
    )
    return f"""
WITH {_ivfpq_scored_ctes(dim)},
shortlist AS (
  SELECT query_id, neighbor_id, ROUND(score, 9) AS score_adc FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
    FROM scored
  ) t WHERE rn <= {RERANK_C}
),
exact AS (
  SELECT s.query_id, s.neighbor_id, s.score_adc, {cos_exact} AS score_exact
  FROM shortlist s
  JOIN probes p ON p.query_id = s.query_id
  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, score_exact, score_adc FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_exact DESC, neighbor_id ASC)
    AS BIGINT) AS rank
  FROM exact
) t WHERE rank <= {IVF_K}
"""


# -------------------------------------------------------------- k-NN graph

KNN_K = 5  # neighbors kept per vector


# The built k-NN graph is INDEX STATE (an HNSW/NSG owner builds it once and
# serves every search/label-prop/noise query from it), so it is memoized
# per (application, lake, content fingerprint) exactly like the trained IVF
# quantizer: `knn_graph`, `ann_graph_search`, and `embed_label_noise` all
# ride one build per session. The cached payload is the slim
# (src_id, dst_id, cos_sim, rank) frame — |V|·K rows of three int64 + one
# double — and lives OUTSIDE the tracked-cache registry so per-query
# release_caches() hygiene can't evict it; only a different lake does.
_KNN_CACHE: dict[tuple, DataFrame] = {}
_KNN_LOCK = threading.Lock()


def knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized k-NN graph frame (src_id, dst_id, cos_sim, rank)."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        table_fingerprint(sf_dir, "embeddings"),
    )
    with _KNN_LOCK:
        hit = _KNN_CACHE.get(key)
    if hit is not None:
        # clearCache() drops CacheManager registrations (graph.py lesson):
        # a memo hit must re-register or every consumer recomputes.
        try:
            if not hit.storageLevel.useMemory:
                hit.cache()
        except Exception:  # pragma: no cover - defensive
            pass
        return hit
    # Warm from the persisted artifact when the store is enabled (the
    # read_index path): zero build jobs, one parquet scan. The disk key
    # is (sf_dir, fingerprint) — the appId only scopes the SESSION memo.
    from ..plans import index_store

    loaded = index_store.try_read_frame(
        spark, index_store.KNN_GRAPH, key[1:]
    )
    built = (
        loaded if loaded is not None else _build_knn_graph(spark, sf_dir)
    ).cache()
    if loaded is None:
        # write_frame is the materializing action on the fresh cache; a
        # disabled store makes it a no-op and .cache() stays lazy as before
        index_store.write_frame(built, index_store.KNN_GRAPH, key[1:])
    with _KNN_LOCK:
        # Re-check under the lock: two concurrent first calls both build,
        # and the loser's cached blocks would leak until session end if we
        # blindly overwrote. Keep the winner, unpersist our duplicate.
        hit = _KNN_CACHE.get(key)
        if hit is not None:
            try:
                built.unpersist()
            except Exception:  # pragma: no cover - session already gone
                pass
            return hit
        for k in [k for k in _KNN_CACHE if k != key]:
            try:
                _KNN_CACHE.pop(k).unpersist()
            except Exception:  # pragma: no cover - session already gone
                pass
        _KNN_CACHE[key] = built
    return built


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide k-NN GRAPH over the trained IVF index: every vector's
    top-K cosine neighbors among vectors assigned to its NPROBE nearest
    cells — the input artifact for graph clustering, SemDeDup refinement,
    label propagation, kNN-LM retrieval, and `ann_graph_search`'s
    navigation layer. `ann_ivf_topk` answers a probe SET; this
    materializes the all-vectors self-search, which is the expensive
    production variant (Σ|cell|² ≈ n·√n candidate pairs, never n²).
    Memoized per lake (see `knn_edges`).
    """
    from ..plans.cache import release_caches

    release_caches()
    return knn_edges(spark, sf_dir)


def _build_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-NN graph build (the memo miss path of `knn_edges`).

    Plan: ONE cached streaming assignment pass (rank_cells) serves both
    sides; candidates are slim (src, dst) id pairs from the cell match
    (each dst has exactly one assignment cell, so pairs are unique by
    construction — no dedup shuffle); vectors re-attach by two
    co-partitioned joins on vec_id; rank window partitions per src over
    the candidate frame only. Exactly `ann_ivf_topk`'s shape with the
    probe broadcast replaced by a shuffle join — the right strategy when
    the probe side IS the corpus.
    """
    from ..plans.cache import tracked_cache

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = trained_centroid_rows(spark, sf_dir)
    cells = tracked_cache(rank_cells(emb, cent_rows, NPROBE))
    assigned = cells.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("dst_id"), "cell_id"
    )
    queries = cells.select(F.col("vec_id").alias("src_id"), "cell_id")
    cand = queries.join(assigned, "cell_id").filter(
        F.col("src_id") != F.col("dst_id")
    )
    qe = emb.select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("q_emb"))
    ne = emb.select(F.col("vec_id").alias("dst_id"), F.col("embedding").alias("n_emb"))
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("n_emb").cast("array<double>"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cos_sim"), F.asc("dst_id"))
    return (
        cand.join(qe, "src_id")
        .join(ne, "dst_id")
        .select("src_id", "dst_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select("src_id", "dst_id", "cos_sim", "rank")
    )


def _knn_graph_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    cos = cosine_rounded_sql("q.embedding", "a.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (SELECT vec_id, embedding, cell_id FROM final WHERE rn = 1),
queries AS (SELECT vec_id, embedding, cell_id FROM final WHERE rn <= {NPROBE}),
scored AS (
  SELECT q.vec_id AS src_id, a.vec_id AS dst_id, {cos} AS cos_sim
  FROM queries q JOIN assigned a
    ON a.cell_id = q.cell_id AND a.vec_id <> q.vec_id
)
SELECT src_id, dst_id, cos_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS BIGINT) AS rank
  FROM scored
) t WHERE rank <= {KNN_K}
"""



def embed_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise estimate by k-NN label agreement (the confident-learning
    / Cleanlab-style training-data check): for every labeled vector, how
    often its IVF-kNN neighbors share its label, and — per label — the
    share of vectors whose neighbor MAJORITY label disagrees with their
    own (the mislabel suspects a labeling-QA pass reviews first).

    Plan: reuses `knn_graph`'s whole pipeline (one cached assignment pass,
    Σ|cell|² candidates, per-src rank window), attaches labels with two
    slim key joins, then per-src majority via a window PARTITIONED by src
    (≤ k rows each) and two bounded per-label aggregates. Integer counts
    everywhere; ratios round identically in both engines.
    """
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    knn = knn_graph(spark, sf_dir)
    src_l = labels.select(
        F.col("vec_id").alias("src_id"), F.col("label").alias("own_label")
    )
    dst_l = labels.select(
        F.col("vec_id").alias("dst_id"), F.col("label").alias("neigh_label")
    )
    j = knn.join(src_l, "src_id").join(dst_l, "dst_id")
    votes = j.groupBy("src_id", "own_label", "neigh_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("c"), F.asc("neigh_label")
    )
    maj = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src_id", F.col("neigh_label").alias("maj_label"))
    )
    per_vec = (
        votes.groupBy("src_id", "own_label")
        .agg(
            F.sum(
                F.when(
                    F.col("own_label") == F.col("neigh_label"), F.col("c")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_agree"),
            F.sum("c").cast("bigint").alias("n_nb"),
        )
        .join(maj, "src_id")
    )
    return per_vec.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(
            F.sum("n_agree").cast("double") / F.sum("n_nb").cast("double"), 6
        ).alias("neighbor_agreement"),
        F.round(
            F.avg(
                F.when(F.col("maj_label") != F.col("own_label"), 1.0).otherwise(
                    0.0
                )
            ),
            6,
        ).alias("est_noise_rate"),
    )


def _label_noise_sql(dim: int = IVF_SQL_DIM) -> str:
    # reuse the knn oracle verbatim, rewriting only its final SELECT into a
    # `knn` CTE — the replace targets are exact lines of _knn_graph_sql
    # (the drive's parse+value check catches any drift immediately)
    knn = _knn_graph_sql(dim).strip().removeprefix("WITH ")
    return f"""
WITH {knn.replace("SELECT src_id, dst_id, cos_sim, rank FROM (",
                  ", knn AS (SELECT src_id, dst_id FROM (")
         .replace(f") t WHERE rank <= {KNN_K}",
                  f") t WHERE rank <= {KNN_K})")},
labeled AS (
  SELECT k.src_id, sl.label AS own_label, dl.label AS neigh_label
  FROM knn k
  JOIN embeddings sl ON sl.vec_id = k.src_id
  JOIN embeddings dl ON dl.vec_id = k.dst_id
),
votes AS (
  SELECT src_id, own_label, neigh_label, CAST(COUNT(*) AS BIGINT) AS c
  FROM labeled GROUP BY 1, 2, 3
),
maj AS (
  SELECT src_id, neigh_label AS maj_label FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY src_id ORDER BY c DESC, neigh_label ASC) AS rn
    FROM votes
  ) t WHERE rn = 1
),
per_vec AS (
  SELECT v.src_id, v.own_label,
         CAST(SUM(CASE WHEN v.own_label = v.neigh_label THEN v.c
                       ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(SUM(v.c) AS BIGINT) AS n_nb
  FROM votes v GROUP BY 1, 2
)
SELECT p.own_label AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(n_agree) AS DOUBLE) / CAST(SUM(n_nb) AS DOUBLE), 6)
         AS neighbor_agreement,
       ROUND(AVG(CASE WHEN m.maj_label <> p.own_label THEN 1.0
                      ELSE 0.0 END), 6) AS est_noise_rate
FROM per_vec p JOIN maj m ON m.src_id = p.src_id
GROUP BY p.own_label
"""


# -------------------------------------------------------- filtered search

FILTER_K = 3


def ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — top-k under a metadata predicate (here: even label),
    the operation every production vector store couples with similarity
    (tenant isolation, language routing, freshness windows). This is the
    PRE-FILTER strategy: the predicate applies to the assigned posting
    list BEFORE any distance evaluates, so (a) no distance is wasted on
    excluded vectors and (b) k results are k results — post-filtering
    after a fixed-k search silently returns < k when the filter is
    selective (the classic recall bug this operator exists to avoid).
    With IVF, pre-filtering composes freely because candidate generation
    is an id-level join, not an opaque index walk.

    Plan: identical to `ann_ivf_topk` (cached assignment pass, slim-first
    candidate join, broadcast probes) with one scan-local predicate on the
    assigned side; the label column rides the posting list as one extra
    int, not a second join.
    """
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    cells = tracked_cache(
        rank_cells(emb.select("vec_id", "embedding"), cent_rows, NPROBE)
    )
    labels = emb.select("vec_id", "label")
    assigned = (
        cells.filter(F.col("rn") == 1)
        .join(labels, "vec_id")
        .filter(F.col("label") % 2 == 0)
        .select("vec_id", "cell_id")
    )
    probes = (
        cells.filter((F.col("vec_id") < N_PROBES) & (F.col("rn") <= NPROBE))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cell_id").alias("q_cell"),
        )
    )
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        assigned.join(
            F.broadcast(probes),
            (F.col("cell_id") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= FILTER_K)
    )


def _filtered_search_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    cos = cosine_rounded_sql("p.q_emb", "a.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (
  SELECT f.vec_id, f.embedding, f.cell_id
  FROM final f JOIN embeddings l ON l.vec_id = f.vec_id
  WHERE f.rn = 1 AND l.label % 2 = 0
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cell_id AS q_cell
  FROM final WHERE vec_id < {N_PROBES} AND rn <= {NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM probes p JOIN assigned a
    ON a.cell_id = p.q_cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT)
    AS rank
  FROM scored
) t WHERE rank <= {FILTER_K}
"""



# ------------------------------------------------------- embedding drift

EMB_DRIFT_SCALE = -3.0  # injected encoder drift: first-half dims sign-flipped ×3
EMB_DRIFT_DIMS_FRAC = 2  # dims/this many get rescaled (dim // 2 of them)
EMB_DRIFT_T = 0.1  # PSI investigate threshold (0.1 moderate / 0.2 action)


def embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-DISTRIBUTION drift: PSI over the trained IVF quantizer's
    cell occupancy, reference half (even vec_id) vs current half (odd) —
    the encoder-regression monitor a retrieval/vector pipeline runs after
    every model redeploy: if new embeddings land in different cells, every
    downstream ANN/recall assumption just moved. Raw-value PSI can't see
    this (embeddings aren't scalar); occupancy of a FIXED quantizer is the
    standard projection (same trick as monitoring an index's posting-list
    balance).

    The two halves of the synthetic corpus are identically distributed, so
    the CURRENT half is drifted in-query in BOTH engines (first-half dims
    rescaled ×−3 — a rotated/renormalized feature block, the silent
    encoder change); the detector
    must fire.

    Plan: ONE streaming assignment pass over the (deterministically
    perturbed) corpus against the memoized quantizer → ≤k-cell conditional
    counts → PSI arithmetic on the k-row frame with Laplace smoothing and
    decimal-summed rounded terms (exactly `quality_distribution_psi`'s
    discipline).
    """
    from ..plans.cache import release_caches

    release_caches()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(emb.select("embedding").first()[0])
    q = dim // EMB_DRIFT_DIMS_FRAC
    arr = F.col("embedding").cast("array<double>")
    scaled = F.concat(
        F.transform(F.slice(arr, 1, q), lambda x: x * F.lit(EMB_DRIFT_SCALE)),
        F.slice(arr, q + 1, dim - q),
    )
    perturbed = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 1, scaled).otherwise(arr).alias(
            "embedding"
        ),
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    assigned = rank_cells(perturbed, cent_rows, 1).select(
        "vec_id", "cell_id"
    )
    counts = assigned.groupBy("cell_id").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ref_n"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cur_n"),
    )
    spine = spark.createDataFrame(
        [(int(r[0]),) for r in cent_rows], "cell_id bigint"
    )
    full = spine.join(counts, "cell_id", "left").select(
        "cell_id",
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    k = F.count(F.lit(1)).over(w).cast("double")
    r_share = (d("ref_n") + 0.5) / (F.sum("ref_n").over(w).cast("double") + k / 2)
    c_share = (d("cur_n") + 0.5) / (F.sum("cur_n").over(w).cast("double") + k / 2)
    term = F.round((r_share - c_share) * F.log(r_share / c_share), 12).cast(
        "decimal(38,12)"
    )
    agg = full.select(term.alias("t"), F.lit(1).alias("one")).groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("t").cast("double").alias("psi"),
    )
    return agg.select(
        "n_cells",
        F.round("psi", 9).alias("psi"),
        (F.col("psi") > EMB_DRIFT_T).alias("drift_detected"),
    )


def _embedding_drift_sql(dim: int = IVF_SQL_DIM) -> str:
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    q = dim // EMB_DRIFT_DIMS_FRAC
    mod = (
        "CASE WHEN vec_id % 2 = 1 THEN "
        f"list_concat(list_transform(CAST(embedding[1:{q}] AS DOUBLE[]), "
        f"x -> x * {EMB_DRIFT_SCALE}), CAST(embedding[{q + 1}:] AS DOUBLE[])) "
        "ELSE CAST(embedding AS DOUBLE[]) END"
    )
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    return f"""
WITH {train_ctes},
perturbed AS (
  SELECT vec_id, {mod} AS embedding FROM embeddings
),
ranked AS (
  SELECT vec_id, cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM perturbed e CROSS JOIN {cent} c
),
counts AS (
  SELECT cell_id,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ref_n,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cur_n
  FROM ranked WHERE rn = 1 GROUP BY cell_id
),
full_counts AS (
  SELECT c.cell_id, COALESCE(k.ref_n, 0) AS ref_n, COALESCE(k.cur_n, 0) AS cur_n
  FROM {cent} c LEFT JOIN counts k ON k.cell_id = c.cell_id
),
en AS (
  SELECT
    (CAST(ref_n AS DOUBLE) + 0.5)
      / (SUM(CAST(ref_n AS DOUBLE)) OVER () + COUNT(*) OVER () / 2.0)
      AS r_share,
    (CAST(cur_n AS DOUBLE) + 0.5)
      / (SUM(CAST(cur_n AS DOUBLE)) OVER () + COUNT(*) OVER () / 2.0)
      AS c_share
  FROM full_counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
  ROUND(CAST(SUM(CAST(ROUND((r_share - c_share) * LN(r_share / c_share), 12)
                      AS DECIMAL(38,12))) AS DOUBLE), 9) AS psi,
  CAST(SUM(CAST(ROUND((r_share - c_share) * LN(r_share / c_share), 12)
                AS DECIMAL(38,12))) AS DOUBLE) > {EMB_DRIFT_T}
    AS drift_detected
FROM en
"""



# ----------------------------------------------------------- nprobe curve

NPROBE_CURVE = (1, 2, 3)


def ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k vs nprobe — the IVF tuning CURVE (recall_report pins one
    operating point; this sweeps the recall/cost dial an index owner
    actually turns). Per nprobe ∈ {1,2,3}: mean and min recall@k against
    brute-force ground truth, plus the candidate count (the cost side).

    ONE cached assignment pass at max(nprobe) serves every level (lower
    levels are rn-filters over the same frame — the whole point of
    ranked multi-cell assignment); ground truth computes once. All
    recall arithmetic is integer hits over k·|probes| — exact.
    """
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = trained_centroid_rows(spark, sf_dir)
    cells = tracked_cache(rank_cells(emb, cent_rows, max(NPROBE_CURVE)))
    assigned = cells.filter(F.col("rn") == 1).select("vec_id", "cell_id")
    bf = _tracked_bf(spark, sf_dir)
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    outs = []
    for np_ in NPROBE_CURVE:
        probes = (
            cells.filter(
                (F.col("vec_id") < N_PROBES) & (F.col("rn") <= np_)
            )
            .join(emb, "vec_id")
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
                F.col("cell_id").alias("q_cell"),
            )
        )
        w_rank = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        cand = assigned.join(
            F.broadcast(probes),
            (F.col("cell_id") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        ivf = (
            cand.join(emb, "vec_id")
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cos.alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= IVF_K)
            .select("query_id", "neighbor_id")
        )
        hits = bf.join(
            ivf, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("bigint").alias("candidates")
        )
        n_probe_rows = bf.select("query_id").distinct().count()
        outs.append(
            hits.join(n_cand).select(
                F.lit(np_).cast("bigint").alias("nprobe"),
                F.lit(n_probe_rows).cast("bigint").alias("n_probes"),
                "candidates",
                "hits",
                F.round(
                    F.col("hits").cast("double")
                    / F.lit(float(IVF_K * n_probe_rows)),
                    6,
                ).alias("mean_recall_at_k"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _tracked_bf(spark: SparkSession, sf_dir: str):
    """Brute-force top-IVF_K ground truth, cached for the curve's levels."""
    from ..plans.cache import tracked_cache

    return tracked_cache(
        ann_bruteforce_topk(spark, sf_dir)
        .filter(F.col("rank") <= IVF_K)
        .select("query_id", "neighbor_id")
    )


def _nprobe_curve_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    cos = cosine_rounded_sql("p.q_emb", "a.embedding")
    bf_cos = cosine_rounded_sql("p.embedding", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    levels = []
    for np_ in NPROBE_CURVE:
        levels.append(f"""
SELECT CAST({np_} AS BIGINT) AS nprobe,
  (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM bf) AS n_probes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{np_}) AS candidates,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM bf JOIN ivf{np_} USING (query_id, neighbor_id)) AS hits,
  ROUND((SELECT CAST(COUNT(*) AS DOUBLE)
         FROM bf JOIN ivf{np_} USING (query_id, neighbor_id))
        / ({IVF_K}.0 * (SELECT COUNT(DISTINCT query_id) FROM bf)), 6)
    AS mean_recall_at_k""")
    cands = []
    for np_ in NPROBE_CURVE:
        cands.append(f"""cand{np_} AS (
  SELECT p.query_id, p.q_emb, a.vec_id, a.embedding
  FROM (SELECT vec_id AS query_id, embedding AS q_emb, cell_id AS q_cell
        FROM final WHERE vec_id < {N_PROBES} AND rn <= {np_}) p
  JOIN assigned a ON a.cell_id = p.q_cell AND a.vec_id <> p.query_id
),
ivf{np_} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {cos.replace("a.embedding", "embedding")} DESC,
                      vec_id ASC) AS rank
    FROM (SELECT query_id, q_emb, vec_id, embedding FROM cand{np_})
      AS p(query_id, q_emb, vec_id, embedding)
  ) WHERE rank <= {IVF_K}
)""")
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (SELECT vec_id, embedding, cell_id FROM final WHERE rn = 1),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
             ORDER BY {bf_cos} DESC, e.vec_id ASC) AS rank
    FROM (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < {N_PROBES}) p
    JOIN embeddings e ON e.vec_id <> p.vec_id
  ) WHERE rank <= {IVF_K}
),
{",".join(cands)}
{chr(10).join(p if i == 0 else "UNION ALL" + p for i, p in enumerate(levels))}
"""

# ------------------------------------------- scalar quantization (SQ8)


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization search (Faiss IndexScalarQuantizer /
    QT_8bit) — the remaining member of the quantization family (Flat /
    IVF / PQ / IVFPQ ship already): every dimension quantizes
    independently to 8 bits on a uniform grid over its trained [min, max]
    range, and search scores the approximate inner product ⟨q, x̂⟩
    against the decoded grid points. SQ trades less compression than PQ
    (8× vs 64×) for far smaller error (≤ Δ_d/512 per dim, no codebook
    mismatch) and zero training beyond per-dim bounds — the default
    middle rung of the memory/recall ladder.

    Plan: training is ONE map-side-combinable per-dim min/max aggregate
    (model = dim rows, collected driver-side); the scan is one fused
    encode+score streaming pass (`sq_adc_mapper` — encode is arithmetic,
    so unlike PQ no separate code materialization is needed) with
    batch-local top-k; the global rank window runs over ≤
    batches×probes×k slim rows. The oracle replays the per-dim bounds,
    the quantize/decode arithmetic, and the literal left-fold inner
    product.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim_rows = (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min("v").alias("mn"),
            (F.max("v") - F.min("v")).alias("delta"),
        )
        .orderBy("dim")
        .collect()
    )
    mins = [r["mn"] for r in dim_rows]
    deltas = [r["delta"] for r in dim_rows]
    probe_rows = sorted(
        emb.filter(F.col("vec_id") < N_PROBES).collect(),
        key=lambda r: r["vec_id"],
    )
    qids = [int(r["vec_id"]) for r in probe_rows]
    queries = [list(r["embedding"]) for r in probe_rows]
    cand = emb.mapInPandas(
        sq_adc_mapper(mins, deltas, queries, qids, IVF_K), SQ_ADC_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("score", 9).alias("score_sq"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _sq_sql(dim: int = IVF_SQL_DIM) -> str:
    xhat = (
        "(m.mins[i] + (LEAST(255.0, GREATEST(0.0, FLOOR("
        "CASE WHEN m.deltas[i] > 0 "
        "THEN (x.e[i] - m.mins[i]) / m.deltas[i] * 256.0 "
        "ELSE 0.0 END))) + 0.5) * m.deltas[i] / 256.0)"
    )
    score = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"i -> p.q[i] * {xhat})), (acc, v) -> acc + v)"
    )
    return f"""
WITH dims AS (
  SELECT pos AS dim, MIN(v) AS mn, MAX(v) - MIN(v) AS delta
  FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos
        FROM embeddings)
  GROUP BY pos
),
model AS (
  SELECT list(mn ORDER BY dim) AS mins, list(delta ORDER BY dim) AS deltas
  FROM dims
),
probes AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id < {N_PROBES}
),
x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT p.query_id, x.vec_id AS neighbor_id, {score} AS score
  FROM probes p CROSS JOIN x CROSS JOIN model m
  WHERE x.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, ROUND(score, 9) AS score_sq, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT)
    AS rank
  FROM scored
) t WHERE rank <= {IVF_K}
"""


# --------------------------------------------- IVF + scalar quantization

_SQ_RESID_CACHE: dict[tuple, tuple] = {}


def trained_residual_sq_bounds(spark: SparkSession, sf_dir: str) -> tuple:
    """The IVF-SQ8 model: global per-dim [min, max−min] bounds of the
    RESIDUALS x − c(x) against the session's coarse quantizer — residual
    ranges are much tighter than raw-vector ranges, so the same 8 bits
    buy proportionally finer grids (the same displacement-coding argument
    as IVFPQ, without codebooks). Memoized per (lake, fingerprint).

    Training: one streaming assignment pass (`rank_cells`, nprobe=1) →
    residuals re-derived JVM-side (posexplode + broadcast centroid join +
    element_at — no Python in the bounds aggregate) → one map-side
    per-dim min/max aggregate, 2·dim doubles collected.
    """
    key = (sf_dir, table_fingerprint(sf_dir, "embeddings"))
    with _CENTROID_LOCK:
        if key in _SQ_RESID_CACHE:
            return _SQ_RESID_CACHE[key]
    from ..plans import index_store

    loaded = index_store.try_read_model(
        index_store.SQ_RESIDUAL_BOUNDS, key
    )
    if loaded is not None:
        model = (
            [float(x) for x in loaded[0]],
            [float(x) for x in loaded[1]],
        )
        with _CENTROID_LOCK:
            for k in [
                k for k in _SQ_RESID_CACHE if k[0] == sf_dir and k != key
            ]:
                del _SQ_RESID_CACHE[k]
            _SQ_RESID_CACHE[key] = model
        return model
    cent_rows = trained_centroid_rows(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = (
        rank_cells(emb, cent_rows, 1)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cent_rows],
        "cell_id bigint, c_emb array<double>",
    )
    dim_rows = (
        emb.join(assigned, "vec_id")
        .select("cell_id", F.posexplode("embedding").alias("dim", "v"))
        .join(F.broadcast(cent_df), "cell_id")
        .select(
            "dim",
            (
                F.col("v")
                - F.element_at(F.col("c_emb"), (F.col("dim") + 1).cast("int"))
            ).alias("r"),
        )
        .groupBy("dim")
        .agg(F.min("r").alias("mn"), (F.max("r") - F.min("r")).alias("delta"))
        .orderBy("dim")
        .collect()
    )
    model = (
        [r["mn"] for r in dim_rows],
        [r["delta"] for r in dim_rows],
    )
    index_store.write_model(model, index_store.SQ_RESIDUAL_BOUNDS, key)
    with _CENTROID_LOCK:
        for k in [k for k in _SQ_RESID_CACHE if k[0] == sf_dir and k != key]:
            del _SQ_RESID_CACHE[k]
        _SQ_RESID_CACHE[key] = model
    return model


def ann_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 search (Faiss IndexIVFScalarQuantizer): coarse quantizer
    restricts each probe to its NPROBE inverted lists; candidates score
    by ⟨q, c(x)⟩ + ⟨q, r̂⟩ with the residual r = x − c(x) scalar-quantized
    to 8 bits per dim on GLOBAL residual bounds. The middle rung between
    IVF-Flat (no compression) and IVFPQ (codebook compression): 8×
    smaller lists than Flat, far lower distortion than PQ at the same
    scan cost, no residual codebook training.

    Pipeline: one streaming assignment pass (shared `rank_cells` shape),
    residual bounds memoized as model state, then ONE fused
    residualize+encode+score scan (`ivfsq_adc_mapper` — SQ encode is
    arithmetic, so nothing materializes between encode and scan) with
    batch-local top-k; the global rank window runs over slim candidate
    rows. The oracle replays coarse training, the residual relation, the
    per-dim bounds, the quantize/decode arithmetic, and the
    bias-prepended left-fold score.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent_rows = trained_centroid_rows(spark, sf_dir)
    rmins, rdeltas = trained_residual_sq_bounds(spark, sf_dir)
    assigned = (
        rank_cells(emb, cent_rows, 1)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    posting = emb.join(assigned, "vec_id")
    probe_rows = sorted(
        emb.filter(F.col("vec_id") < N_PROBES).collect(),
        key=lambda r: r["vec_id"],
    )
    qids, queries, probe_cells, cell_bias = [], [], [], []
    for r in probe_rows:
        q = [float(x) for x in r["embedding"]]
        qids.append(int(r["vec_id"]))
        queries.append(q)
        ranked = sorted(
            ((_fold_cos(cvec, q), cid, cvec) for cid, cvec in cent_rows),
            key=lambda t: (-t[0], t[1]),
        )[:NPROBE]
        probe_cells.append([cid for _c, cid, _v in ranked])
        cell_bias.append([_fold_dot(cvec, q) for _c, _cid, cvec in ranked])
    cand = posting.mapInPandas(
        ivfsq_adc_mapper(
            cent_rows,
            rmins,
            rdeltas,
            queries,
            qids,
            probe_cells,
            cell_bias,
            IVF_K,
        ),
        PQ_ADC_SCHEMA,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("score", 9).alias("score_ivfsq"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _ivfsq_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    bias = dot_sql("p.q", "c.c_emb")
    cos_probe = cosine_sql("c.c_emb", "p.q")
    rhat = (
        "(m.mins[i] + (LEAST(255.0, GREATEST(0.0, FLOOR("
        "CASE WHEN m.deltas[i] > 0 "
        "THEN (r.embedding[i] - m.mins[i]) / m.deltas[i] * 256.0 "
        "ELSE 0.0 END))) + 0.5) * m.deltas[i] / 256.0)"
    )
    score = (
        f"list_reduce(list_prepend(pc.bias, list_transform(range(1, {dim + 1}), "
        f"i -> p.q[i] * {rhat})), (acc, v) -> acc + v)"
    )
    return f"""
WITH {train_ctes},
cassign AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (SELECT vec_id, embedding, cell_id FROM cassign WHERE rn = 1),
resid AS (
  SELECT a.vec_id, a.cell_id,
         list_transform(list_zip(a.embedding, c.c_emb), p -> p[1] - p[2])
           AS embedding
  FROM assigned a JOIN {cent} c ON c.cell_id = a.cell_id
),
rdims AS (
  SELECT pos AS dim, MIN(v) AS mn, MAX(v) - MIN(v) AS delta
  FROM (SELECT unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM resid)
  GROUP BY pos
),
rmodel AS (
  SELECT list(mn ORDER BY dim) AS mins, list(delta ORDER BY dim) AS deltas
  FROM rdims
),
probes AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id < {N_PROBES}
),
pcells AS (
  SELECT query_id, cell_id, bias FROM (
    SELECT p.query_id, c.cell_id, {bias} AS bias,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {cos_probe} DESC, c.cell_id ASC) AS rn
    FROM probes p CROSS JOIN {cent} c
  ) t WHERE rn <= {NPROBE}
),
scored AS (
  SELECT pc.query_id, r.vec_id AS neighbor_id, {score} AS score
  FROM pcells pc
  JOIN probes p ON p.query_id = pc.query_id
  JOIN resid r ON r.cell_id = pc.cell_id
  CROSS JOIN rmodel m
  WHERE r.vec_id <> pc.query_id
)
SELECT query_id, neighbor_id, ROUND(score, 9) AS score_ivfsq, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT)
    AS rank
  FROM scored
) t WHERE rank <= {IVF_K}
"""


# --------------------------------------------- compression/recall Pareto

# (mode key, search fn name, vector-memory compression factor vs float64)
PARETO_MODES = (
    ("ivf_flat", "ann_ivf_topk", 1.0),
    ("sq8", "ann_sq8_topk", 8.0),
    ("ivf_sq8", "ann_ivfsq_topk", 8.0),
    ("pq", "ann_pq_topk", 64.0),
    ("ivf_pq", "ann_ivfpq_topk", 64.0),
)


def ann_compression_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression/recall PARETO table — the one-page decision an
    index owner actually makes, composed from the five shipped search
    modes (IVF-Flat, SQ8, IVF-SQ8, PQ, IVFPQ) scored against the exact
    brute-force top-k: per mode, its vector-memory compression factor and
    its mean/worst recall@k over the probe set. Reading the table IS the
    capacity plan: pick the rightmost point that still meets the recall
    SLO.

    Plan: every search is the shipped operator (each already slim/fused);
    results are k×|probes| metadata frames, so recall arithmetic runs on
    collected 30-row sets driver-side and the output materializes as a
    |modes|-row literal frame. Mean recall = total_hits/(probes·k) in one
    division (bit-stable across engines); the oracle recomputes every
    mode's full replay and the same arithmetic.
    """
    searches = {
        "ivf_flat": ann_ivf_topk,
        "sq8": ann_sq8_topk,
        "ivf_sq8": ann_ivfsq_topk,
        "pq": ann_pq_topk,
        "ivf_pq": ann_ivfpq_topk,
    }
    bf_rows = (
        ann_bruteforce_topk(spark, sf_dir)
        .filter(F.col("rank") <= IVF_K)
        .select("query_id", "neighbor_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in bf_rows:
        truth.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    n_probes = len(truth)
    out = []
    for name, _fn_name, comp in PARETO_MODES:
        got_rows = searches[name](spark, sf_dir).select(
            "query_id", "neighbor_id"
        ).collect()
        got: dict[int, set] = {}
        for r in got_rows:
            got.setdefault(int(r["query_id"]), set()).add(
                int(r["neighbor_id"])
            )
        hits = {q: len(truth[q] & got.get(q, set())) for q in truth}
        total = sum(hits.values())
        worst = min(hits.values())
        out.append(
            (
                name,
                float(comp),
                round(float(total) / (n_probes * IVF_K), 6),
                round(float(worst) / IVF_K, 6),
            )
        )
    return spark.createDataFrame(
        out,
        "index_mode string, compression_x double, "
        "mean_recall double, min_recall double",
    )


def _pareto_sql() -> str:
    mode_sqls = {
        "ivf_flat": _ivf_sql(),
        "sq8": _sq_sql(),
        "ivf_sq8": _ivfsq_sql(),
        "pq": _pq_sql(),
        "ivf_pq": _ivfpq_sql(),
    }
    ctes = [
        f"bf AS (SELECT query_id, neighbor_id FROM ({_bruteforce_sql()}) "
        f"WHERE rank <= {IVF_K})",
        "np AS (SELECT COUNT(DISTINCT query_id) AS n FROM bf)",
    ]
    branches = []
    for name, _fn, comp in PARETO_MODES:
        ctes.append(
            f"m_{name} AS (SELECT query_id, neighbor_id "
            f"FROM ({mode_sqls[name]}))"
        )
        ctes.append(
            f"""h_{name} AS (
  SELECT bf.query_id, COUNT(m.neighbor_id) AS hits
  FROM bf LEFT JOIN m_{name} m
    ON m.query_id = bf.query_id AND m.neighbor_id = bf.neighbor_id
  GROUP BY bf.query_id
)"""
        )
        branches.append(
            f"""SELECT '{name}' AS index_mode,
       CAST({float(comp)} AS DOUBLE) AS compression_x,
       ROUND(CAST((SELECT SUM(hits) FROM h_{name}) AS DOUBLE)
             / ((SELECT n FROM np) * {IVF_K}), 6) AS mean_recall,
       ROUND(CAST((SELECT MIN(hits) FROM h_{name}) AS DOUBLE)
             / {IVF_K}, 6) AS min_recall"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(branches)
    )


# --------------------------------------------------- graph-ANN beam search

GANN_N_QUERIES = 5  # probe set: vec_id < 5
GANN_BEAM = 8  # beam width (HNSW's ef parameter)
GANN_HOPS = 3  # fixed expansion rounds (determinism > convergence)
GANN_TOP_K = 5


def ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN search (the HNSW/NSG family, third index paradigm
    beside IVF and PQ): greedy best-first BEAM search over the k-NN
    navigation graph — start at a fixed entry node (min vec_id, the
    single-layer stand-in for HNSW's top-layer descent), expand every beam
    member's graph neighbors each hop, keep the top-`GANN_BEAM` scored
    nodes, answer the top-K of the final beam. Fixed `GANN_HOPS` rounds
    instead of a convergence test keep the unrolled-CTE oracle an exact
    mirror (same trade as PageRank's fixed iterations).

    Scale shape: the navigation graph is `knn_graph`'s bucketed build
    (Σ|cell|² pairs, cached once and probed every hop); the beam state is
    |Q|×BEAM rows — CONSTANT, so the per-hop beam-side broadcast join is
    bounded by module constants at any corpus size, and each hop costs one
    slim key join into the edge frame plus one key join to re-attach
    candidate embeddings. Scores are rounded Arrow cosines; ties break by
    node id, so beam membership is deterministic and the oracle replays
    the identical search path.
    """
    from ..plans.cache import release_caches, tracked_cache

    release_caches()
    edges = knn_edges(spark, sf_dir).select("src_id", "dst_id")
    # the corpus vectors are probed every hop (9 actions per search) —
    # cache once instead of re-scanning per round
    emb = tracked_cache(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    probes = emb.filter(F.col("vec_id") < GANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    entry = emb.agg(F.min("vec_id").alias("node"))
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("node")
    )

    def score_and_prune(cand: DataFrame) -> DataFrame:
        """(query_id, node) → top-BEAM (query_id, node, cos_sim). The
        candidate frame (≤ |Q|·BEAM·(K+1) rows, constants) broadcasts so
        the corpus side never shuffles — each round is one map-side pass
        over the cached vectors."""
        return (
            emb.join(F.broadcast(cand), cand["node"] == emb["vec_id"])
            .join(F.broadcast(probes), "query_id")
            .select("query_id", "node", cos.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= GANN_BEAM)
            .select("query_id", "node", "cos_sim")
        )

    # Each hop references the beam TWICE (keep-set + expansion), so an
    # uncheckpointed loop doubles the logical plan per hop and re-runs
    # every prior window once per reference (§6 iterative doctrine;
    # measured 6.7 → 1.3 s steady at sf0.1). The frame is |Q|×BEAM rows —
    # the checkpoint is free.
    # The beam state is |Q|×BEAM rows — constant at ANY corpus size — so
    # the hop loop runs with AQE pinned off unconditionally (iterative-
    # round doctrine): per-hop re-planning and one-driver-job-per-exchange
    # buy nothing on a constant-bounded frame, and each eager hop becomes
    # one job instead of several.
    # pinned_conf holds the process pin lock (r8 verdict item #8)
    from ..plans.conf_pin import pinned_conf

    with pinned_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        beam = checkpoint_round(
            score_and_prune(
                probes.select("query_id").crossJoin(F.broadcast(entry))
            ),
            "ann_graph_search:hop0",
        )
        for hop in range(GANN_HOPS):
            expanded = (
                F.broadcast(beam.select("query_id", "node"))
                .join(edges, beam["node"] == edges["src_id"])
                .select("query_id", F.col("dst_id").alias("node"))
            )
            cand = (
                beam.select("query_id", "node")
                .unionByName(expanded)
                .distinct()
            )
            beam = checkpoint_round(
                score_and_prune(cand), f"ann_graph_search:hop{hop + 1}"
            )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        beam.filter(F.col("node") != F.col("query_id"))
        .select(
            "query_id", F.col("node").alias("neighbor_id"), "cos_sim"
        )
        .withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= GANN_TOP_K)
    )


def _graph_search_sql(dim: int = IVF_SQL_DIM) -> str:
    cos_assign = cosine_sql("c.c_emb", "e.embedding")
    cos_edge = cosine_rounded_sql("q.embedding", "a.embedding")
    cos_beam = cosine_rounded_sql("p.embedding", "e.embedding")
    train_ctes, cent = train_sql_ctes("embeddings", dim)
    hops = []
    prev = "b0"
    for i in range(1, GANN_HOPS + 1):
        hops.append(f"""cand{i} AS (
  SELECT query_id, node FROM {prev}
  UNION
  SELECT b.query_id, g.dst_id AS node
  FROM {prev} b JOIN knn g ON g.src_id = b.node
),
b{i} AS (
  SELECT query_id, node, cos_sim FROM (
    SELECT c.query_id, c.node, {cos_beam} AS cos_sim,
           ROW_NUMBER() OVER (
             PARTITION BY c.query_id
             ORDER BY {cos_beam} DESC, c.node ASC) AS rn
    FROM cand{i} c
    JOIN embeddings e ON e.vec_id = c.node
    JOIN probes p ON p.query_id = c.query_id
  ) t WHERE rn <= {GANN_BEAM}
)""")
        prev = f"b{i}"
    hop_chain = ",\n".join(hops)
    return f"""
WITH {train_ctes},
final AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cos_assign} DESC, c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN {cent} c
),
assigned AS (SELECT vec_id, embedding, cell_id FROM final WHERE rn = 1),
queries AS (SELECT vec_id, embedding, cell_id FROM final
            WHERE rn <= {NPROBE}),
knn_scored AS (
  SELECT q.vec_id AS src_id, a.vec_id AS dst_id, {cos_edge} AS cos_sim
  FROM queries q JOIN assigned a
    ON a.cell_id = q.cell_id AND a.vec_id <> q.vec_id
),
knn AS (
  SELECT src_id, dst_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS rank
    FROM knn_scored
  ) t WHERE rank <= {KNN_K}
),
probes AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id < {GANN_N_QUERIES}),
entry AS (SELECT MIN(vec_id) AS node FROM embeddings),
b0 AS (
  SELECT query_id, node, cos_sim FROM (
    SELECT p.query_id, en.node, {cos_beam} AS cos_sim,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {cos_beam} DESC, en.node ASC) AS rn
    FROM probes p CROSS JOIN entry en
    JOIN embeddings e ON e.vec_id = en.node
  ) t WHERE rn <= {GANN_BEAM}
),
{hop_chain}
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, node AS neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, node ASC) AS BIGINT) AS rank
  FROM {prev} WHERE node <> query_id
) t WHERE rank <= {GANN_TOP_K}
"""


# ------------------------------------------------------- hybrid retrieval

RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
HYBRID_C = 20  # per-leg candidate-list depth entering the fusion
HYBRID_TOP_K = 10
# Lexical leg of each hybrid query; the vector leg uses the corpus
# embedding whose vec_id equals the query_id (in production the vector is
# the ENCODED QUERY — the fixture stands it in so both legs stay
# deterministic and oracle-replayable).
HYBRID_QUERIES: dict[int, tuple[str, ...]] = {
    1: ("spark", "window", "sort"),
    2: ("join", "filter", "scan"),
    3: ("dup", "table"),
}


def ann_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion
    (Cormack et al., SIGIR'09): BM25 top-C and cosine top-C candidate
    lists per query, fused by Σ 1/(RRF_K + rank) — the standard
    score-scale-free way to combine sparse and dense retrieval (RRF needs
    no score calibration, which is why every hybrid search engine ships
    it).

    Scale shape: each leg is already a bounded top-C list per query — the
    lexical leg's corpus work is `textstats.bm25_scores` (tokenize once,
    map-side term gate), the vector leg is the documented brute-force
    baseline (`ann_ivf_topk` is the scale path for the same leg, swap at
    will); the fusion itself joins two |Q|×C frames — metadata scale. A
    doc missing from one leg contributes only the other leg's reciprocal
    (standard RRF). Reciprocals are fixed-order double expressions rounded
    at 9, never aggregated, so cross-engine ordering is exact; ties break
    by doc_id.
    """
    from pyspark.sql.window import Window

    from .textstats import bm25_scores

    lex_w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    lex = (
        bm25_scores(spark, sf_dir, HYBRID_QUERIES)
        .withColumn("lex_rank", F.row_number().over(lex_w).cast("bigint"))
        .filter(F.col("lex_rank") <= HYBRID_C)
        .select("query_id", "doc_id", "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    probes = emb.filter(
        F.col("vec_id").isin(sorted(HYBRID_QUERIES))
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    cos = cosine_rounded_arrow(
        F.col("q_emb").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    vec_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("doc_id")
    )
    vec = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos_sim")
        )
        .withColumn("vec_rank", F.row_number().over(vec_w).cast("bigint"))
        .filter(F.col("vec_rank") <= HYBRID_C)
        .select("query_id", "doc_id", "vec_rank")
    )
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)
        ),
        9,
    )
    fuse_w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        lex.join(vec, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id", "doc_id", "lex_rank", "vec_rank",
            rrf.alias("rrf_score"),
        )
        .withColumn("rank", F.row_number().over(fuse_w).cast("bigint"))
        .filter(F.col("rank") <= HYBRID_TOP_K)
        .select(
            "query_id", "rank", "doc_id", "lex_rank", "vec_rank", "rrf_score"
        )
    )


def _hybrid_sql() -> str:
    from .textstats import bm25_sql_ctes

    cos = cosine_rounded_sql("p.embedding", "e.embedding")
    ids = ", ".join(str(q) for q in sorted(HYBRID_QUERIES))
    return f"""
WITH {bm25_sql_ctes(HYBRID_QUERIES)},
lex AS (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id ASC
    ) AS BIGINT) AS lex_rank FROM bm25
  ) t WHERE lex_rank <= {HYBRID_C}
),
probes AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id IN ({ids})),
vecscored AS (
  SELECT p.query_id, e.vec_id AS doc_id, {cos} AS cos_sim
  FROM probes p JOIN embeddings e ON e.vec_id <> p.query_id
),
vec AS (
  SELECT query_id, doc_id, vec_rank FROM (
    SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, doc_id ASC
    ) AS BIGINT) AS vec_rank FROM vecscored
  ) t WHERE vec_rank <= {HYBRID_C}
),
fused AS (
  SELECT query_id, doc_id, lex_rank, vec_rank,
         ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0)
             + COALESCE(1.0 / ({RRF_K} + vec_rank), 0), 9) AS rrf_score
  FROM lex FULL OUTER JOIN vec USING (query_id, doc_id)
)
SELECT query_id, rank, doc_id, lex_rank, vec_rank, rrf_score FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
  ) AS BIGINT) AS rank FROM fused
) t WHERE rank <= {HYBRID_TOP_K}
"""


QUERIES = {
    "ann_graph_search": ann_graph_search,
    "ann_hybrid_search": ann_hybrid_search,
    "ann_compression_pareto": ann_compression_pareto,
    "ann_ivfsq_topk": ann_ivfsq_topk,
    "ann_sq8_topk": ann_sq8_topk,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_rerank_topk": ann_rerank_topk,
    "ann_ivf_add_batch": ann_ivf_add_batch,
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "knn_graph": knn_graph,
    "embed_label_noise": embed_label_noise,
    "ann_filtered_search": ann_filtered_search,
    "embedding_drift_psi": embedding_drift_psi,
    "ann_nprobe_curve": ann_nprobe_curve,
    "pq_recall_report": pq_recall_report,
    "embedding_outlier_report": embedding_outlier_report,
    "embed_dim_stats": embed_dim_stats,
    "ann_range_search": ann_range_search,
    "embed_cluster_report": embed_cluster_report,
    "ann_recall_report": ann_recall_report,
}

ORACLES = {
    "ann_graph_search": _graph_search_sql(),
    "ann_hybrid_search": _hybrid_sql(),
    "ann_compression_pareto": _pareto_sql(),
    "ann_ivfsq_topk": _ivfsq_sql(),
    "ann_sq8_topk": _sq_sql(),
    "ann_pq_topk": _pq_sql(),
    "ann_ivfpq_topk": _ivfpq_sql(),
    "ann_rerank_topk": _rerank_sql(),
    "ann_ivf_add_batch": _add_batch_sql(),
    "ann_bruteforce_topk": _bruteforce_sql(),
    "ann_ivf_topk": _ivf_sql(),
    "knn_graph": _knn_graph_sql(),
    "embed_label_noise": _label_noise_sql(),
    "ann_filtered_search": _filtered_search_sql(),
    "embedding_drift_psi": _embedding_drift_sql(),
    "ann_nprobe_curve": _nprobe_curve_sql(),
    "pq_recall_report": _pq_recall_sql(),
    "embedding_outlier_report": _embedding_outlier_sql(),
    "embed_dim_stats": EMBED_DIM_STATS_SQL,
    "ann_range_search": _range_search_sql(),
    "embed_cluster_report": _cluster_report_sql(),
    "ann_recall_report": _recall_sql(),
}
