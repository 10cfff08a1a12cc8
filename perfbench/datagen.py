"""Seeded inputs for the benchmark.

Everything the engine reads comes from here: the ten catalog tables
(written as one parquet file each, in the schemas of
``schemas.DRIVER_TABLES``) and each workload's requests. The same seed
gives byte-identical tables and identical requests; the engine sees
only the generated files and request lists, never the seed.

The documents reuse the 30-word core vocabulary of the stock test data
(so the registry's fixed query texts still hit), with a share of tokens
drawn from a Zipf-distributed rare vocabulary: lexical queries mix one
common term with two rare ones, so both high and low document
frequencies are exercised. ``describe`` reports the measured
document-frequency mix, batch sizes and delete share of a workload.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the stock sf0.01 sizes. Plan build, job count and
# driver round trips dominate at this size, which is the cost the
# benchmark separates; executor work is still visible in the traced run.
SIZES = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
DIM = 64
N_LABELS = 10
COMMON = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_RARE = 400          # rare vocabulary size
RARE_SHARE = 0.08     # share of document tokens drawn from it
NEAR_DUP_SHARE = 0.05  # documents that copy an earlier one plus " dup"
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

# retrieve: one request = VEC_PER_REQ vector queries + LEX_PER_REQ
# lexical queries, each 1 common + 2 rare terms
VEC_PER_REQ = 5
LEX_PER_REQ = 3
QUERY_NOISE = 0.35
# index maintenance before serving: UPSERT_BATCH new documents, then
# DELETE_BATCH ids (half from that batch, half from the base corpus)
UPSERT_BATCH = 8
DELETE_BATCH = 4
UPSERT_ID_BASE = 1_000_000
QUERY_ID_BASE = 2_000_000


def rare_term(j: int) -> str:
    return f"term{j:03d}"


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _ts(rng, start: dt.datetime, span_s: float, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.uniform(0, span_s, n) * 1e6).astype("timedelta64[us]")


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64, s = pa.int32(), pa.int64(), pa.string()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(n["region"]), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), i32),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array([i % n["region"] for i in range(n["nation"])], i32),
    })

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, n["nation"], n["customer"]), i32),
        "c_acctbal": money(-999, 9999, n["customer"]),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, n["nation"], n["supplier"]), i32),
        "s_acctbal": money(-999, 9999, n["supplier"]),
    })
    adjs = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), i64),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1),
    })
    day = 86400.0
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": money(1000, 500000, n["orders"]),
        "o_orderdate": (np.datetime64("1995-01-01", "us") + (
            rng.integers(0, 2400, n["orders"]) * 86400 * 10**6
        ).astype("timedelta64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"]),
    })
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": (np.datetime64("1995-01-02", "us") + (
            rng.integers(0, 2500, n["lineitem"]) * 86400 * 10**6
        ).astype("timedelta64[us]")),
    })
    ts = np.sort(_ts(rng, dt.datetime(2024, 1, 1), 30 * day, n["events"]))
    out["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n["events"]), i64),
        "event_type": rng.choice(
            ["click", "view", "signup", "purchase", "error"], n["events"]),
        "value": np.round(rng.exponential(50.0, n["events"]), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])],
    })

    texts = document_texts(rng, n["documents"])
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), i64),
        "text": pa.array(texts, s),
        "lang": rng.choice(LANGS, n["documents"], p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    centers = _unit(rng.standard_normal((N_LABELS, DIM)))
    labels = rng.integers(0, N_LABELS, n["embeddings"])
    vecs = _unit(centers[labels] + 0.8 * rng.standard_normal((n["embeddings"], DIM))
                 / np.sqrt(DIM)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def document_texts(rng, n_docs: int) -> list[str]:
    zipf_w = 1.0 / np.arange(1, N_RARE + 1)
    zipf_w /= zipf_w.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_tok = int(rng.integers(8, 90))
        toks = [
            rare_term(int(rng.choice(N_RARE, p=zipf_w)))
            if rng.random() < RARE_SHARE else COMMON[int(rng.integers(len(COMMON)))]
            for _ in range(n_tok)
        ]
        texts.append(" ".join(toks))
    return texts


def write_tables(tables: dict[str, pa.Table], root: str) -> None:
    os.makedirs(root, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))


def _doc_freq(texts) -> dict[str, int]:
    df: dict[str, int] = {}
    for t in texts:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    return df


def retrieve_requests(seed: int, tables: dict[str, pa.Table], n: int) -> list[dict]:
    """``n`` requests, each with VEC_PER_REQ perturbed corpus vectors
    (new ids, so none is its own neighbour) and LEX_PER_REQ lexical
    queries of one common and two rare terms that occur in the corpus."""
    rng = np.random.default_rng([seed, 1])
    vecs = np.vstack(tables["embeddings"].column("embedding").to_pylist())
    df = _doc_freq(tables["documents"].column("text").to_pylist())
    rare = sorted(w for w in df if w.startswith("term"))
    reqs = []
    for r in range(n):
        src = rng.integers(0, len(vecs), VEC_PER_REQ)
        q = _unit(vecs[src] + QUERY_NOISE * rng.standard_normal(vecs[src].shape)
                  / np.sqrt(DIM))
        ids = QUERY_ID_BASE + r * VEC_PER_REQ + np.arange(VEC_PER_REQ)
        lex = [
            (f"r{r}q{j}", " ".join(
                [COMMON[int(rng.integers(len(COMMON)))]]
                + [rare[int(i)] for i in rng.choice(len(rare), 2, replace=False)]))
            for j in range(LEX_PER_REQ)
        ]
        reqs.append({"vec_ids": [int(i) for i in ids],
                     "vectors": q.astype(np.float32), "lexical": lex})
    return reqs


def maintenance_batch(seed: int, tables: dict[str, pa.Table]) -> dict:
    """One index-maintenance batch: UPSERT_BATCH new documents
    (recombined corpus text plus a unique marker term), then
    DELETE_BATCH deletes, half of them ids of this batch's new
    documents and half base-corpus ids."""
    rng = np.random.default_rng([seed, 2])
    texts = tables["documents"].column("text").to_pylist()
    ups = []
    for j in range(UPSERT_BATCH):
        new_id = UPSERT_ID_BASE + j
        a, b = rng.integers(0, len(texts), 2)
        ta, tb = texts[a].split(), texts[b].split()
        body = ta[: max(1, len(ta) // 2)] + tb[len(tb) // 2:]
        marker = f"mark{new_id}"
        ups.append({"id": new_id, "text": " ".join(body + [marker]), "marker": marker})
    n_new = DELETE_BATCH // 2
    dels = [ups[int(j)]["id"] for j in rng.choice(len(ups), n_new, replace=False)]
    n_base = min(len(texts), tables["embeddings"].num_rows)
    dels += [int(j) for j in rng.choice(n_base, DELETE_BATCH - n_new, replace=False)]
    return {"upserts": ups, "deletes": dels}


def describe(tables: dict[str, pa.Table], requests=None, batch=None) -> dict:
    """The input properties the engine's behaviour depends on."""
    texts = tables["documents"].column("text").to_pylist()
    df = _doc_freq(texts)
    n_docs = len(texts)
    out = {
        "rows": {k: v.num_rows for k, v in tables.items()},
        "rare_token_share": RARE_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "vocabulary": len(df),
    }
    if requests:
        terms = [t for r in requests for _, q in r["lexical"] for t in q.split()]
        rare = [t for t in terms if t.startswith("term")]
        out["lexical"] = {
            "rare_term_share": round(len(rare) / len(terms), 4),
            "common_term_mean_df_share": round(float(np.mean(
                [df[t] / n_docs for t in terms if not t.startswith("term")])), 4),
            "rare_term_mean_df_share": round(float(np.mean(
                [df[t] / n_docs for t in rare])), 4),
        }
        out["vector_queries_per_request"] = VEC_PER_REQ
        out["lexical_queries_per_request"] = LEX_PER_REQ
    if batch:
        out["upsert_batch"] = UPSERT_BATCH
        out["delete_batch"] = DELETE_BATCH
        out["delete_share"] = round(DELETE_BATCH / UPSERT_BATCH, 4)
    return out
