"""Output checks. Pure functions over collected rows, so they run (and
are tested) without Spark. Each returns a list of problem strings;
an empty list means the output is correct."""

from __future__ import annotations

import numpy as np

RECALL_FLOOR = 0.8   # IVF-PQ recall@k against exact cosine, per request


def exact_topk(corpus_ids, corpus: np.ndarray, queries: np.ndarray, k: int):
    """Exact cosine top-k ids per query (ties broken by smaller id)."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    ids = np.asarray(corpus_ids)
    return [list(ids[np.lexsort((ids, -row))[:k]]) for row in sims]


def recall(ann: dict, exact: dict, k: int) -> float:
    """Mean recall@k of ``ann`` ({query: [ids]}) against ``exact``."""
    return float(np.mean([len(set(ann.get(q, [])[:k]) & set(exact[q][:k])) / k
                          for q in exact]))


def ranked(rows, qcol: str, idcol: str) -> dict:
    """{query: [(rank, id, score), ...]} sorted by rank."""
    out: dict = {}
    for r in rows:
        out.setdefault(str(r[qcol]), []).append(
            (int(r["rank"]), int(r[idcol]), float(r["score"])))
    return {q: sorted(v) for q, v in out.items()}


def same_ranking(got: dict, want: dict, queries) -> list[str]:
    problems = []
    for q in queries:
        if got.get(q, []) != want.get(q, []):
            problems.append(f"query {q}: got {got.get(q)} want {want.get(q)}")
    return problems


def maintenance(bm25_rows, pq_rows, expected: dict, deleted, deleted_markers) -> list[str]:
    """The search after an upsert/delete batch: each BM25 query id in
    ``expected`` (one per live upserted document, asked for its own
    marker term) returns that document at rank 1; no deleted id is ever
    returned by either index; a deleted document's marker query
    (query id = the marker) matches nothing."""
    problems = []
    bm = ranked(bm25_rows, "query_id", "doc_id")
    for q, u in expected.items():
        top = bm.get(q, [])
        if not top or top[0][1] != u:
            problems.append(f"bm25: upserted {u} is not rank 1 ({top[:1]})")
    problems += returned_deleted(bm25_rows, "doc_id", deleted)
    problems += returned_deleted(pq_rows, "neighbor_id", deleted)
    for q in deleted_markers:
        if bm.get(q):
            problems.append(f"bm25: deleted document's marker {q} matches {bm[q]}")
    return problems


def returned_deleted(rows, idcol: str, deleted) -> list[str]:
    bad = sorted({int(r[idcol]) for r in rows} & set(deleted))
    return [f"deleted ids returned: {bad}"] if bad else []
