"""Persisted index artifacts — the Faiss write_index/read_index lifecycle.

The engine memoizes expensive derived INDEX STATE per session: the IVF
coarse quantizer, the PQ / residual-PQ codebooks, the SQ residual bounds
(driver-side model lists), the k-NN navigation graph, the audio
aligned-pair frame, and the co-purchase part graph (cached DataFrames).
Those memos are session-local, so every new session repays the full
build — hours at 100 TB (the bench's own build line items at sf0.1:
ivf 1.8 s + pq 1.1 s + ivfpq 1.0 s + graph 3.7 s).

With ``DBSURVEYOR_INDEX_DIR`` set, each memo additionally persists its
payload to the store — parquet for frames, JSON for model lists (Python
JSON round-trips doubles exactly, so warmed models are bit-identical) —
and a fresh session warms the memo from disk on first touch: zero
training/build jobs in the second session's plans. Unset (the default),
behavior is exactly the session-local memo of rounds 5-6; the CLI
``index`` verb is the explicit build-and-persist entry point.

Staleness is impossible by construction: artifacts are keyed by the
lake's CONTENT FINGERPRINT — (path, mtime_ns, size) of every data file —
so a rewritten table computes a different key and the old artifact is
simply never addressed again; ``index gc <lake>...`` prunes artifacts no
current lake content addresses (see `gc_unreferenced`).

Concurrency: writes land in a pid-suffixed temp path and atomically
rename into place; the loser of a rename race discards its copy and the
store never exposes a half-written artifact (parquet reads additionally
require the _SUCCESS marker).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

# artifact kinds (directory names under the store root)
IVF_CENTROIDS = "ivf_centroids"
PQ_CODEBOOKS = "pq_codebooks"
RESID_PQ_CODEBOOKS = "ivfpq_residual_codebooks"
SQ_RESIDUAL_BOUNDS = "sq_residual_bounds"
KNN_GRAPH = "knn_graph"
AUDIO_PAIRS = "audio_pairs"
COPURCHASE_HALF = "copurchase_half"
COPURCHASE_DEG = "copurchase_deg"
BM25_STATS = "bm25_stats"
DSIR_MODEL = "dsir_model"
QCLS_MODEL = "qcls_model"


def store_root() -> Optional[str]:
    """The artifact store root, or None when persistence is disabled."""
    root = os.environ.get("DBSURVEYOR_INDEX_DIR", "").strip()
    return root or None


def _key(kind: str, fingerprint: Any) -> str:
    return hashlib.sha256(
        repr((kind, fingerprint)).encode("utf-8")
    ).hexdigest()[:16]


def _frame_path(kind: str, fingerprint: Any) -> Optional[str]:
    root = store_root()
    if root is None:
        return None
    return os.path.join(root, kind, _key(kind, fingerprint) + ".parquet")


def _model_path(kind: str, fingerprint: Any) -> Optional[str]:
    root = store_root()
    if root is None:
        return None
    return os.path.join(root, kind, _key(kind, fingerprint) + ".json")


# ------------------------------------------------------------------ frames


def try_read_frame(
    spark: SparkSession, kind: str, fingerprint: Any
) -> Optional[DataFrame]:
    """The persisted frame for (kind, fingerprint), or None (store
    disabled / artifact absent / write incomplete)."""
    p = _frame_path(kind, fingerprint)
    if p is None or not os.path.exists(os.path.join(p, "_SUCCESS")):
        return None
    return spark.read.parquet(p)


def write_frame(df: DataFrame, kind: str, fingerprint: Any) -> bool:
    """Persist ``df`` (an action — on a freshly cached memo frame this IS
    the materializing action, so persistence adds no extra pass). Returns
    True if this call created the artifact."""
    p = _frame_path(kind, fingerprint)
    if p is None:
        return False
    if os.path.exists(os.path.join(p, "_SUCCESS")):
        return False
    tmp = f"{p}.tmp-{os.getpid()}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, p)
        return True
    except OSError:
        # another session won the rename race — use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        return False


# ------------------------------------------------------------------ models


def try_read_model(kind: str, fingerprint: Any) -> Optional[Any]:
    p = _model_path(kind, fingerprint)
    if p is None or not os.path.exists(p):
        return None
    try:
        with open(p, "r", encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):  # pragma: no cover - torn external write
        return None


def write_model(obj: Any, kind: str, fingerprint: Any) -> bool:
    p = _model_path(kind, fingerprint)
    if p is None:
        return False
    if os.path.exists(p):
        return False
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)
    os.replace(tmp, p)  # atomic; last writer wins with identical content
    return True


# ----------------------------------------------------------- store listing


def list_artifacts() -> list[dict]:
    """[{kind, key, path, bytes}] for every complete artifact in the store."""
    root = store_root()
    out: list[dict] = []
    if root is None or not os.path.isdir(root):
        return out
    for kind in sorted(os.listdir(root)):
        kdir = os.path.join(root, kind)
        if not os.path.isdir(kdir):
            continue
        for name in sorted(os.listdir(kdir)):
            path = os.path.join(kdir, name)
            if name.endswith(".parquet") and os.path.isdir(path):
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    continue
                size = sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _d, fs in os.walk(path)
                    for f in fs
                )
            elif name.endswith(".json") and os.path.isfile(path):
                size = os.path.getsize(path)
            else:
                continue
            out.append(
                {
                    "kind": kind,
                    "key": name.rsplit(".", 1)[0],
                    "path": path,
                    "bytes": size,
                }
            )
    return out


# -------------------------------------------------------------------- gc


def live_keys(lake_dirs: list[str]) -> set[tuple[str, str]]:
    """(kind, key) pairs addressable by the CURRENT content of the given
    lake directories. Every artifact outside this set is unreferenced:
    the fingerprint that produced it can never be recomputed again (the
    data files were rewritten), so no session will ever read it.

    NOTE for new artifact kinds: register the kind's (source table
    fingerprint → key) recipe here, or `gc_unreferenced` will prune it.
    """
    from ..sources.file_lake import table_fingerprint
    from ..operators.textstats import _bm25_store_keys, _qcls_store_key
    from ..survey.sampling import _dsir_store_key

    out: set[tuple[str, str]] = set()
    for lake in lake_dirs:
        lake = lake.rstrip("/")
        emb_key = (lake, table_fingerprint(lake, "embeddings"))
        docs_key = (lake, table_fingerprint(lake, "documents"))
        li_key = (lake, table_fingerprint(lake, "lineitem"))
        for kind in (
            IVF_CENTROIDS,
            PQ_CODEBOOKS,
            RESID_PQ_CODEBOOKS,
            SQ_RESIDUAL_BOUNDS,
            KNN_GRAPH,
        ):
            out.add((kind, _key(kind, emb_key)))
        out.add((AUDIO_PAIRS, _key(AUDIO_PAIRS, docs_key)))
        for kind in (COPURCHASE_HALF, COPURCHASE_DEG):
            out.add((kind, _key(kind, li_key)))
        for bkey in _bm25_store_keys(lake):
            out.add((BM25_STATS, _key(BM25_STATS, bkey)))
        out.add((DSIR_MODEL, _key(DSIR_MODEL, _dsir_store_key(lake))))
        out.add((QCLS_MODEL, _key(QCLS_MODEL, _qcls_store_key(lake))))
    return out


def gc_unreferenced(lake_dirs: list[str]) -> list[dict]:
    """Prune artifacts not addressed by the current content of
    ``lake_dirs`` (plus any torn ``.tmp-*`` leftovers from crashed
    writers). Returns the pruned artifact records. The caller names
    EVERY lake it wants kept — an omitted lake's artifacts are, by
    definition, unreferenced."""
    live = live_keys(lake_dirs)
    pruned: list[dict] = []
    for art in list_artifacts():
        if (art["kind"], art["key"]) in live:
            continue
        path = art["path"]
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:  # pragma: no cover - concurrent external rm
                pass
        pruned.append(art)
    root = store_root()
    if root and os.path.isdir(root):
        for kind in os.listdir(root):
            kdir = os.path.join(root, kind)
            if not os.path.isdir(kdir):
                continue
            for name in os.listdir(kdir):
                if ".tmp-" in name:
                    path = os.path.join(kdir, name)
                    if os.path.isdir(path):
                        shutil.rmtree(path, ignore_errors=True)
                    else:
                        try:
                            os.remove(path)
                        except OSError:  # pragma: no cover
                            pass
    return pruned
