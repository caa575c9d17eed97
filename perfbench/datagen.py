"""Seeded input generators for the benchmark.

Every input a workload reads is made here from the run's seed, so the
benchmark needs nothing outside its checkout and the same seed always
gives byte-identical files. The lake has the catalog's ten tables with the
column names, types and value distributions of the engine's test lakes
(TPC-H-shaped star schema plus events, documents and embeddings): keys
are dense and unique, foreign keys are uniform over their parent, and
``documents`` carries near-duplicate and exact-duplicate rows so the dedup
operators have work to find. The seed chooses the values, the row order
and the parquet row-group split.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Day range of order and ship dates (the engine's queries pick predicates
# inside it) and the 30-day event window.
_DATE0 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2403  # through 2001-08-01
_SHIP_DAYS = 2499  # through 2001-11-04
_EVENT0 = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts of the test lakes at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, span: int, n: int) -> pa.Array:
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(_DATE0 + days, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.18:
            # near duplicate: an earlier text with one marker token inserted
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i > 10 and r < 0.2:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten catalog tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    users = max(1, n["customer"] // 10)
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    i32 = np.int32
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(i32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(i32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                    )
                ],
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
                "p_type": _pick(rng, PART_TYPES, npart),
                "p_size": pa.array(rng.integers(1, 51, npart).astype(i32)),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, _ORDER_DAYS, no),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl)),
                "l_partkey": pa.array(rng.integers(0, npart, nl)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(i32)),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
                "l_linestatus": _pick(rng, ("F", "O"), nl),
                "l_shipdate": _days(rng, _SHIP_DAYS, nl),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(ne, dtype=np.int64)),
                "ts": pa.array(
                    _EVENT0
                    + np.sort(rng.integers(0, _EVENT_SPAN_US, ne)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, users, ne)),
                "event_type": _pick(rng, EVENT_TYPES, ne),
                "value": np.round(rng.exponential(50.0, ne), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return tables


def write_lake(tables: dict[str, pa.Table], lake: str, seed: int) -> dict[str, int]:
    """Write ``<lake>/<table>.parquet`` for each table, with the row order
    and row-group size drawn from ``seed``; returns bytes per table."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(lake, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        groups = int(rng.integers(1, 5))
        path = os.path.join(lake, f"{name}.parquet")
        pq.write_table(
            tbl, path, row_group_size=max(1, -(-tbl.num_rows // groups))
        )
        sizes[name] = os.path.getsize(path)
    return sizes


def subset_tables(
    tables: dict[str, pa.Table], seed: int, keep: float
) -> dict[str, pa.Table]:
    """A row subset of each table (dimension tables stay whole), chosen by
    ``seed`` — one small database of a fleet."""
    rng = np.random.default_rng(seed)
    out = {}
    for name, tbl in tables.items():
        if name in ("region", "nation"):
            out[name] = tbl
            continue
        mask = rng.random(tbl.num_rows) < keep
        out[name] = tbl.filter(pa.array(mask))
    return out


def write_document_lake(
    events: pa.Table, root: str, collections: int = 2, per_collection: int = 60
) -> dict[str, int]:
    """A ``docs:`` lake: the first ``per_collection`` events of the first
    ``collections`` event types, each type a ``<collection>.jsonl`` file of
    nested JSON documents. Returns the document count per collection."""
    os.makedirs(root, exist_ok=True)
    cols = events.to_pydict()
    by_type: dict[str, list[str]] = {t: [] for t in sorted(EVENT_TYPES)[:collections]}
    for i in range(events.num_rows):
        docs = by_type.get(cols["event_type"][i])
        if docs is None or len(docs) == per_collection:
            continue
        doc = {
            "_id": int(cols["event_id"][i]),
            "ts": cols["ts"][i].isoformat(),
            "user": {"id": int(cols["user_id"][i]), "segment": cols["event_type"][i][:2]},
            "value": cols["value"][i],
            "props": json.loads(cols["props"][i]),
        }
        docs.append(json.dumps(doc, sort_keys=True))
    for etype, docs in by_type.items():
        with open(os.path.join(root, f"{etype}.jsonl"), "w") as fh:
            fh.write("\n".join(docs) + "\n")
    return {etype: len(docs) for etype, docs in by_type.items()}
