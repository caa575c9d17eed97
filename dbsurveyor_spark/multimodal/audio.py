"""Audio fingerprint matching (SURVEY §2.I) — the chromaprint shape.

Acoustic matching (Chromaprint/AcoustID, Shazam's constellation papers)
works on a SEQUENCE of subfingerprints: per short overlapping window,
quantize the spectral-energy gradient into a small integer; two recordings
match when many subfingerprints agree AT A CONSISTENT TIME OFFSET — the
offset histogram is what separates a real match (one dominant offset bin)
from chance collisions (spread). That alignment step is what the set-based
near-dup operators (minhash / simhash / dHash buckets) cannot express.

The container has no audio libs, so "spectral energy" is the deterministic
stub: 8 byte-sum bands per 32-byte window (stride 16); a subfingerprint
packs the 24 temporal×band gradient bits of a 4-frame window. Pure byte
arithmetic → the DuckDB oracle replays it exactly. A real FFT frontend
drops into the same Arrow-batched kernel.

Scale shape: one mapInPandas pass emits (doc_id, t, sfp) int64 rows; a
document-frequency cap drops degenerate subfingerprints (silence,
constant tones — the |bucket|² hazard, same rule as winnowing); the
in-bucket join emits (pair, offset) votes; two map-side-combinable
aggregations pick the dominant offset per pair. Payloads never shuffle.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..catalog import load_table
from ..sources.file_lake import table_fingerprint

AUDIO_WIN = 32  # stub spectral window (bytes)
AUDIO_STRIDE = 16  # hop size (bytes) — 50% overlap like chromaprint
AUDIO_BANDS = 8  # byte-sum "spectral" bands per window
AUDIO_DEPTH = 3  # temporal gradient steps per subfingerprint (4-frame span)
AUDIO_DF_CAP = 50  # drop subfingerprints shared by more docs
AUDIO_OCC_CAP = 8  # keep at most this many positions per (doc, sfp)
AUDIO_MIN_ALIGNED = 4  # pairs need this many votes at the dominant offset
AUDIO_SHIFT_BYTES = 2 * AUDIO_STRIDE  # injected copies start 2 frames late


def _subfingerprints_np(payload: bytes):
    """Per-window 24-bit subfingerprints of the stub spectrogram, as an
    int64 numpy array (empty when the payload is too short).

    Vectorized with numpy (prefix-sum band energies, shifted-compare
    gradient bits) — bit-identical to the per-byte definition the DuckDB
    oracle replays (byte sums are exact small ints; comparisons and bit
    packing are integer-for-integer the same).
    """
    import numpy as np

    n_frames = max(0, (len(payload) - AUDIO_WIN) // AUDIO_STRIDE + 1)
    if n_frames <= AUDIO_DEPTH:
        return np.empty(0, dtype=np.int64)
    band_w = AUDIO_WIN // AUDIO_BANDS
    buf = np.frombuffer(payload, dtype=np.uint8)
    cs = np.zeros(len(buf) + 1, dtype=np.int64)
    np.cumsum(buf, out=cs[1:])
    # E[t, b] = sum of band_w bytes at t*stride + b*band_w
    starts = (
        np.arange(n_frames, dtype=np.int64)[:, None] * AUDIO_STRIDE
        + np.arange(AUDIO_BANDS, dtype=np.int64)[None, :] * band_w
    )
    energies = cs[starts + band_w] - cs[starts]
    # G[t, b] = E[t, b] > E[t+1, b]; row value packs the 8 band bits
    grad = (energies[:-1] > energies[1:]).astype(np.int64)
    row_val = grad @ (np.int64(1) << np.arange(AUDIO_BANDS, dtype=np.int64))
    n_out = n_frames - AUDIO_DEPTH
    sfp = np.zeros(n_out, dtype=np.int64)
    for dt in range(AUDIO_DEPTH):
        sfp += row_val[dt : dt + n_out] << (dt * AUDIO_BANDS)
    return sfp


def audio_subfingerprints(payload: bytes) -> list[int]:
    """List form of :func:`_subfingerprints_np` (kept for callers/tests
    that want plain Python ints)."""
    return _subfingerprints_np(payload).tolist()


def _audio_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio lake: documents as stub waveforms plus the injected
    time-shifted re-uploads (every 10th doc with a 2-frame leading pad)."""
    from ..operators.dedup import ID_OFFSET

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pad = "x" * AUDIO_SHIFT_BYTES
    shifted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + ID_OFFSET).alias("doc_id"),
        F.concat(F.lit(pad), F.col("text")).alias("text"),
    )
    return docs.unionByName(shifted)


# The aligned-pair frame is INDEX STATE (a fingerprint database is built
# once and queried by every match/dedup decision), memoized per
# (application, lake, content fingerprint) like the IVF quantizer and the
# k-NN graph: `mm_audio_fingerprint_match` and `mm_audio_dedup_corpus`
# share one subfingerprint extraction + vote pass per session. The cached
# payload is the slim (doc_a, doc_b, offset, aligned_matches) frame —
# pair-count rows of four int64 — outside the tracked-cache registry.
_PAIR_CACHE: dict[tuple, DataFrame] = {}
_PAIR_LOCK = threading.Lock()


def aligned_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized dominant-offset aligned pair frame for the lake."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        table_fingerprint(sf_dir, "documents"),
    )
    with _PAIR_LOCK:
        hit = _PAIR_CACHE.get(key)
    if hit is not None:
        # clearCache() drops CacheManager registrations (graph.py lesson)
        try:
            if not hit.storageLevel.useMemory:
                hit.cache()
        except Exception:  # pragma: no cover - defensive
            pass
        return hit
    # Warm from the persisted artifact when the store is enabled (see
    # plans/index_store) — the fingerprint database read path.
    from ..plans import index_store

    loaded = index_store.try_read_frame(
        spark, index_store.AUDIO_PAIRS, key[1:]
    )
    built = (
        loaded
        if loaded is not None
        else _aligned_pair_frame(_audio_media(spark, sf_dir))
    ).cache()
    if loaded is None:
        index_store.write_frame(built, index_store.AUDIO_PAIRS, key[1:])
    with _PAIR_LOCK:
        # Re-check under the lock (see similarity.knn_edges): a concurrent
        # first call may have won the race; keep its frame and unpersist
        # our duplicate instead of leaking the loser's cached blocks.
        hit = _PAIR_CACHE.get(key)
        if hit is not None:
            try:
                built.unpersist()
            except Exception:  # pragma: no cover - session already gone
                pass
            return hit
        for k in [k for k in _PAIR_CACHE if k != key]:
            try:
                _PAIR_CACHE.pop(k).unpersist()
            except Exception:  # pragma: no cover - session already gone
                pass
        _PAIR_CACHE[key] = built
    return built


def _aligned_pair_frame(media_text: DataFrame) -> DataFrame:
    """(doc_a, doc_b, offset, aligned_matches) — dominant-offset aligned
    pairs over the stub subfingerprint stream; the shared back half of the
    match and dedup-corpus operators. Caches the occurrence-capped
    subfingerprint frame (the caller owns `release_caches()`).

    r9 rework (guide §4 + §2):
    - the per-(doc, sfp) OCCURRENCE cap moved INTO the Arrow kernel: it is
      document-local, so a numpy grouped-rank inside the batch replaces a
      full window (exchange + sort) over the subfingerprint stream, and
      rows leave Python already capped. The kernel also emits a
      first-occurrence flag, so document frequency is a plain SUM — the
      `distinct` pass disappears.
    - ONE hash repartition on `sfp` feeds the df aggregate, the df-cap
      attach and the in-bucket self-join co-partitioned (the previous
      plan exchanged the stream by (doc, sfp) for the window, by sfp for
      the distinct, and by sfp again per join side).
    - the dominant-offset ranking window became max_by-style aggregation:
      `max(struct(aligned_matches, -offset))` picks the identical winner
      ((matches DESC, offset ASC) — offset tuples are distinct per pair,
      so row_number's winner is unique) with partial map-side aggregation
      and no sort.
    """
    import numpy as np

    from ..plans.cache import tracked_cache

    media = media_text.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def _sfps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, ts, sfps, firsts = [], [], [], []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                sfp = _subfingerprints_np(payload)
                n = sfp.shape[0]
                if n == 0:
                    continue
                # grouped rank in t-order per sfp value (stable argsort
                # keeps positions ascending within each value group) —
                # identical rows to row_number().over(doc_id, sfp ORDER t)
                perm = np.argsort(sfp, kind="stable")
                s = sfp[perm]
                starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
                counts = np.diff(np.r_[starts, n])
                occ = np.arange(n, dtype=np.int64) - np.repeat(
                    starts, counts
                )
                keep = occ < AUDIO_OCC_CAP
                ids.append(np.full(int(keep.sum()), doc_id, dtype=np.int64))
                ts.append(perm[keep].astype(np.int64))
                sfps.append(s[keep])
                firsts.append(occ[keep] == 0)
            if not ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "t": pd.Series([], dtype="int64"),
                        "sfp": pd.Series([], dtype="int64"),
                        "fst": pd.Series([], dtype="bool"),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "t": np.concatenate(ts),
                    "sfp": np.concatenate(sfps),
                    "fst": np.concatenate(firsts),
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("t", LongType()),
            StructField("sfp", LongType()),
            StructField("fst", BooleanType()),
        ]
    )
    spark = media_text.sparkSession
    rows = tracked_cache(
        media.mapInPandas(_sfps, schema).repartition(
            spark.sparkContext.defaultParallelism, "sfp"
        )
    )
    # df = distinct docs per sfp = Σ first-occurrence flags; partitioning
    # (sfp) is the cache's own, so the aggregate and both join attaches
    # below are exchange-free.
    df_ok = (
        rows.groupBy("sfp")
        .agg(F.sum(F.col("fst").cast("bigint")).alias("df"))
        .filter(F.col("df") <= AUDIO_DF_CAP)
        .select("sfp")
    )
    kept = rows.join(df_ok, "sfp").select("doc_id", "t", "sfp")
    a, b = kept.alias("a"), kept.alias("b")
    votes = (
        a.join(
            b,
            (F.col("a.sfp") == F.col("b.sfp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.t") - F.col("b.t")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("aligned_matches"))
    )
    best = F.max(F.struct(F.col("aligned_matches"), (-F.col("offset")).alias("neg")))
    return (
        votes.groupBy("doc_a", "doc_b")
        .agg(best.alias("best"))
        .filter(F.col("best.aligned_matches") >= AUDIO_MIN_ALIGNED)
        .select(
            "doc_a",
            "doc_b",
            (-F.col("best.neg")).alias("offset"),
            F.col("best.aligned_matches").alias("aligned_matches"),
        )
    )


def mm_audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs with time-offset alignment: documents pair when
    ≥ AUDIO_MIN_ALIGNED subfingerprints agree at one consistent offset;
    emits (doc_a, doc_b, offset, aligned_matches). Injected copies (every
    10th doc re-encoded with a 2-frame leading pad — a time-shifted
    re-upload) must surface at offset = 2, which is exactly what the
    offset-vote histogram recovers and a set-overlap dedup cannot.
    """
    from ..plans.cache import release_caches

    release_caches()
    return aligned_pairs(spark, sf_dir)


def mm_audio_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio-DEDUP corpus: one representative (min-id survivor) per
    acoustic cluster, singletons kept — the decision step on top of
    `mm_audio_fingerprint_match`'s pair evidence, completing the audio
    family the way `mm_image_dedup_corpus` completes images. Clusters are
    connected components over the offset-vote-aligned pair graph via the
    shared O(log n) star contraction
    (`operators.dedup.star_contraction_labels`); survivors semi-join back
    to the media frame, summarized as (n_bytes, payload md5) so the value
    oracle stays compact. At 100 TB: only (doc_id, t, sfp) int64 rows and
    pair ids ever shuffle; payloads are touched once by the scan and once
    by the survivor semi-join.
    """
    from ..operators.dedup import star_contraction_labels
    from ..plans.cache import release_caches

    release_caches()
    media_text = _audio_media(spark, sf_dir)
    pairs = aligned_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = star_contraction_labels(edges).withColumnRenamed(
        "node", "doc_id"
    )
    # Survivor = cluster min (or singleton). The label frame lists exactly
    # the NON-root members (label < node always), so
    # doc_id == coalesce(label, doc_id) ⟺ doc_id has no label row — one
    # anti-join replaces the previous left-join → coalesce → filter →
    # semi-join chain (which scanned the media union twice more).
    return media_text.join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_bytes"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("payload_md5"),
    )


def _audio_pair_ctes() -> str:
    """The shared oracle CTE chain media → … → ranked (dominant-offset
    aligned pairs), replaying the stub subfingerprint byte math exactly."""
    from ..operators.dedup import ID_OFFSET

    band_w = AUDIO_WIN // AUDIO_BANDS
    # E[t][b] replay: sum of band_w bytes at t*stride + b*band_w (1-based)
    energy = f"""list_transform(range(0, CAST(nf AS BIGINT)), t ->
      list_transform(range(0, {AUDIO_BANDS}), b ->
        COALESCE(list_sum(list_transform(
          range(CAST(t * {AUDIO_STRIDE} + b * {band_w} + 1 AS BIGINT),
                CAST(t * {AUDIO_STRIDE} + (b + 1) * {band_w} + 1 AS BIGINT)),
          p -> ord(substr(text, CAST(p AS INTEGER), 1)))), 0)))"""
    bits = " + ".join(
        f"""CASE WHEN e[CAST(t + {dt} + 1 AS INTEGER)]
                   [CAST({b} + 1 AS INTEGER)]
                 > e[CAST(t + {dt} + 2 AS INTEGER)]
                   [CAST({b} + 1 AS INTEGER)]
            THEN CAST({1 << (dt * AUDIO_BANDS + b)} AS BIGINT)
            ELSE CAST(0 AS BIGINT) END"""
        for dt in range(AUDIO_DEPTH)
        for b in range(AUDIO_BANDS)
    )
    return f"""media AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id,
         repeat('x', {AUDIO_SHIFT_BYTES}) || text AS text
  FROM documents WHERE doc_id % 10 = 0
),
framed AS (
  SELECT doc_id, text,
         GREATEST(0, (strlen(text) - {AUDIO_WIN}) // {AUDIO_STRIDE} + 1)
           AS nf
  FROM media
),
en AS (SELECT doc_id, nf, {energy} AS e FROM framed),
sfps AS (
  SELECT doc_id, t, ({bits}) AS sfp
  FROM en, unnest(range(0, CAST(nf - {AUDIO_DEPTH} AS BIGINT))) AS u(t)
  WHERE nf > {AUDIO_DEPTH}
),
keep AS (
  SELECT sfp FROM (SELECT DISTINCT doc_id, sfp FROM sfps)
  GROUP BY sfp HAVING COUNT(*) <= {AUDIO_DF_CAP}
),
occ AS (
  SELECT doc_id, t, sfp,
         row_number() OVER (PARTITION BY doc_id, sfp ORDER BY t) AS rn_occ
  FROM sfps
),
kept AS (
  SELECT o.doc_id, o.t, o.sfp
  FROM occ o JOIN keep USING (sfp)
  WHERE o.rn_occ <= {AUDIO_OCC_CAP}
),
votes AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.t - b.t AS "offset",
         CAST(COUNT(*) AS BIGINT) AS aligned_matches
  FROM kept a JOIN kept b ON a.sfp = b.sfp AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT doc_a, doc_b, "offset", aligned_matches,
         row_number() OVER (PARTITION BY doc_a, doc_b
                            ORDER BY aligned_matches DESC, "offset" ASC)
           AS rn
  FROM votes
)"""


def _audio_sql() -> str:
    return f"""
WITH {_audio_pair_ctes()}
SELECT doc_a, doc_b, "offset", aligned_matches
FROM ranked
WHERE rn = 1 AND aligned_matches >= {AUDIO_MIN_ALIGNED}
"""


def _audio_dedup_corpus_sql() -> str:
    return f"""
WITH RECURSIVE {_audio_pair_ctes()},
apairs AS (
  SELECT doc_a, doc_b FROM ranked
  WHERE rn = 1 AND aligned_matches >= {AUDIO_MIN_ALIGNED}
),
aedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM apairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM apairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM media
  UNION
  SELECT e.dst, reach.r FROM reach JOIN aedges e ON e.src = reach.doc_id
),
labels AS (
  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT m.doc_id, CAST(strlen(m.text) AS BIGINT) AS n_bytes,
       md5(m.text) AS payload_md5
FROM media m JOIN labels l ON l.doc_id = m.doc_id
WHERE l.doc_id = l.cluster_id
"""


# ------------------------------------------------- activity segmentation


def mm_audio_activity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio ACTIVITY segmentation (the VAD / silence-trim step a media
    pipeline runs before fingerprinting or transcription): per document,
    maximal runs of frames whose stub energy exceeds the document mean —
    (doc_id, seg_id, start_frame, end_frame, n_frames, sum_energy). The
    threshold compare is the integer cross-multiply E[t]·nf > ΣE (never a
    float mean), so activity flags are bit-exact in any engine.

    Scale shape: the entire computation is DOCUMENT-LOCAL, so it runs as
    ONE Arrow mapInPandas pass — frame energies via the shared prefix-sum
    kernel, run detection in numpy — with no shuffle anywhere; output rows
    are segments only. The same frontend seam as the fingerprint kernel: a
    real energy/VAD model drops into the same batch signature.
    """
    import numpy as np

    from ..plans.cache import release_caches

    release_caches()
    media = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("seg_id", LongType()),
            StructField("start_frame", LongType()),
            StructField("end_frame", LongType()),
            StructField("n_frames", LongType()),
            StructField("sum_energy", LongType()),
        ]
    )

    def _segs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: list[tuple] = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                buf = bytes(payload)
                nf = max(0, (len(buf) - AUDIO_WIN) // AUDIO_STRIDE + 1)
                if nf == 0:
                    continue
                b = np.frombuffer(buf, dtype=np.uint8)
                cs = np.zeros(len(b) + 1, dtype=np.int64)
                np.cumsum(b, out=cs[1:])
                starts = np.arange(nf, dtype=np.int64) * AUDIO_STRIDE
                e = cs[starts + AUDIO_WIN] - cs[starts]
                active = e * nf > e.sum()
                if not active.any():
                    continue
                # run boundaries: starts where active turns on, ends where
                # it turns off
                edges = np.diff(active.astype(np.int8))
                run_starts = np.flatnonzero(edges == 1) + 1
                run_ends = np.flatnonzero(edges == -1) + 1
                if active[0]:
                    run_starts = np.concatenate(([0], run_starts))
                if active[-1]:
                    run_ends = np.concatenate((run_ends, [nf]))
                ecs = np.zeros(nf + 1, dtype=np.int64)
                np.cumsum(e, out=ecs[1:])
                for sid, (s, t) in enumerate(
                    zip(run_starts, run_ends), start=1
                ):
                    out.append(
                        (
                            int(doc_id),
                            sid,
                            int(s),
                            int(t - 1),
                            int(t - s),
                            int(ecs[t] - ecs[s]),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "seg_id",
                    "start_frame",
                    "end_frame",
                    "n_frames",
                    "sum_energy",
                ],
            )

    return media.mapInPandas(_segs, schema)


def _activity_segments_sql() -> str:
    return f"""
WITH framed AS (
  SELECT doc_id, text,
         GREATEST(0, (strlen(text) - {AUDIO_WIN}) // {AUDIO_STRIDE} + 1)
           AS nf
  FROM documents
),
fe AS (
  SELECT doc_id, nf, CAST(t AS BIGINT) AS t,
         CAST(COALESCE(list_sum(list_transform(
           range(CAST(t * {AUDIO_STRIDE} + 1 AS BIGINT),
                 CAST(t * {AUDIO_STRIDE} + {AUDIO_WIN} + 1 AS BIGINT)),
           p -> ord(substr(text, CAST(p AS INTEGER), 1)))), 0) AS BIGINT)
           AS e
  FROM framed, unnest(range(0, CAST(nf AS BIGINT))) AS u(t)
  WHERE nf > 0
),
tot AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS tot_e FROM fe GROUP BY doc_id),
active AS (
  SELECT fe.doc_id, fe.t, fe.e
  FROM fe JOIN tot ON tot.doc_id = fe.doc_id
  WHERE fe.e * fe.nf > tot.tot_e
),
isl AS (
  SELECT doc_id, t, e,
         t - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t) AS grp
  FROM active
),
segs AS (
  SELECT doc_id, MIN(t) AS start_frame, MAX(t) AS end_frame,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(SUM(e) AS BIGINT) AS sum_energy
  FROM isl GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY doc_id ORDER BY start_frame) AS BIGINT) AS seg_id,
       start_frame, end_frame, n_frames, sum_energy
FROM segs
"""


QUERIES = {
    "mm_audio_fingerprint_match": mm_audio_fingerprint_match,
    "mm_audio_dedup_corpus": mm_audio_dedup_corpus,
    "mm_audio_activity_segments": mm_audio_activity_segments,
}

ORACLES = {
    "mm_audio_fingerprint_match": _audio_sql(),
    "mm_audio_dedup_corpus": _audio_dedup_corpus_sql(),
    "mm_audio_activity_segments": _activity_segments_sql(),
}
