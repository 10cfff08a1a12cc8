"""The benchmark's workloads. Each one has

- ``build(ctx)``: one-time on-disk state (index layouts and their
  maintenance batch), run once per process and reported on its own,
  outside ``setup_s``;
- ``open(ctx)``: per-session state (catalog tables, opened searchers),
  repeated on every set-up; ``warm(ctx)``: a warm-up after the last;
- ``op(ctx, i)``: one timed operation (a request, a pass);
- ``check(ctx)``: untimed output checks, returning the indexes of the
  operations whose output was wrong.

Every call into an engine layer sits in a ``ctx.tracer.span`` named
after the layer's public function.
"""

from __future__ import annotations

import os

import numpy as np

import checks
import datagen
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import plans
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import bm25 as BM
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import pq_index as PI

K = 5
BM25_BUCKETS = 8     # postings buckets; the default 32 suits far larger vocabularies
VEC_SCHEMA = "vec_id long, embedding array<float>"
DOC_SCHEMA = "doc_id long, text string"

TEXT_QUERIES = ("bm25_prf_search", "ngram_jaccard_pairs", "term_pmi_pairs",
                "doc_span_scrubbed_sa", "neardup_components", "retrieval_eval")
TABULAR_QUERIES = ("pricing_summary", "session_windows", "chat_history_topk",
                   "session_overlap_counts", "copurchase_pairs",
                   "exact_price_quantiles")
BATCH_QUERIES = TEXT_QUERIES + TABULAR_QUERIES


class Retrieve:
    """Closed loop, one client: each request sends 5 query vectors
    through an opened IVF-PQ searcher and 3 lexical queries through a
    BM25 searcher, k=5, and collects both. The two layouts are built
    once, then take one maintenance batch before serving (documents
    upserted into BM25, ids deleted from both), so every run also
    exercises the write path and serves a maintained index."""

    name = "retrieve"
    n_inputs = 400

    def __init__(self, ctx) -> None:
        self.pq_path = os.path.join(ctx.work_dir, "ivfpq")
        self.bm_path = os.path.join(ctx.work_dir, "bm25")
        self.requests = datagen.retrieve_requests(ctx.seed, ctx.tables, self.n_inputs)
        self.batch = datagen.maintenance_batch(ctx.seed, ctx.tables)
        self.base_vectors = np.vstack(
            ctx.tables["embeddings"].column("embedding").to_pylist())
        self.upserted: dict[int, dict] = {}
        self.deleted: set[int] = set()
        self.maintenance_problems: list[str] = []
        self.results: list = []
        self.recalls: list[float] = []

    def describe(self, ctx) -> dict:
        return datagen.describe(ctx.tables, requests=self.requests, batch=self.batch)

    # ---------------------------------------------------------- set-up

    def build(self, ctx) -> None:
        """Build both layouts, then apply the maintenance batch."""
        sp, tr = ctx.spark, ctx.tracer
        self.open_tables(ctx)
        with tr.span("operators.pq_index.build"):
            PI.build_ivfpq_index(self.emb, self.pq_path, n_cells=8, m=8, kc=32)
        with tr.span("operators.bm25.build"):
            BM.build_bm25_index(self.docs, self.bm_path, n_buckets=BM25_BUCKETS)
        ups, dels = self.batch["upserts"], self.batch["deletes"]
        before = self.layout()
        with tr.span("operators.bm25.upsert"):
            BM.upsert_bm25_index(sp, self.bm_path, sp.createDataFrame(
                [(u["id"], u["text"]) for u in ups], DOC_SCHEMA))
        self.upserted = {u["id"]: u for u in ups}
        with tr.span("operators.bm25.delete"):
            BM.delete_bm25_docs(sp, self.bm_path, dels)
        with tr.span("operators.pq_index.delete"):
            PI.delete_ivfpq_ids(sp, self.pq_path, dels)
        self.deleted = set(dels)
        after = self.layout()
        self.rewritten_mb = sum(s for p, s in after.items() if before.get(p) != s) / 2**20

    def open_tables(self, ctx) -> None:
        with ctx.tracer.span("catalog.load_table"):
            self.emb = load_table(ctx.spark, ctx.data_dir, "embeddings")
            self.docs = load_table(ctx.spark, ctx.data_dir, "documents")

    def open(self, ctx) -> None:
        self.open_tables(ctx)
        with ctx.tracer.span("operators.pq_index.open"):
            self.pq = PI.open_ivfpq_index(ctx.spark, self.pq_path, self.emb)
        with ctx.tracer.span("operators.bm25.open"):
            self.bm = BM.Bm25Searcher(ctx.spark, self.bm_path)

    def warm(self, ctx) -> None:
        """The first search after an open: it checks that the searchers
        see the maintenance batch, by every new document's marker, every
        deleted new document's marker and every deleted base vector."""
        dels = self.batch["deletes"]
        live = [u for u in self.upserted if u not in self.deleted]
        gone = [self.upserted[d]["marker"] for d in dels if d in self.upserted]
        expected = {str(datagen.QUERY_ID_BASE + u): u for u in live}
        lexical = [(q, self.upserted[u]["marker"]) for q, u in expected.items()] + [
            (m, m) for m in gone]
        # query ids never equal a document id: with exclude_self on, a
        # deleted vector would still come back as its own neighbour
        base_dels = [d for d in dels if d not in self.upserted]
        qids = [datagen.QUERY_ID_BASE + d for d in base_dels]
        pq_rows, bm_rows = self.search(ctx, qids, self.base_vectors[base_dels], lexical)
        self.maintenance_problems = checks.maintenance(
            bm_rows, pq_rows, expected, self.deleted, gone)

    # ---------------------------------------------------------- serving

    def search(self, ctx, vec_ids, vecs, lexical):
        sp = ctx.spark
        tr = ctx.tracer
        with tr.span("operators.pq_index.search_build"):
            qdf = sp.createDataFrame(
                [(int(i), [float(x) for x in v]) for i, v in zip(vec_ids, vecs)], VEC_SCHEMA)
            df = self.pq.search(qdf, k=K)
        with tr.span("operators.pq_index.search_exec") as s:
            pq_rows = df.collect()
            if s:
                s.out_rows = len(pq_rows)
        with tr.span("operators.bm25.search_build"):
            df = self.bm.search(lexical, k=K)
        with tr.span("operators.bm25.search_exec"):
            bm_rows = df.collect()
        return pq_rows, bm_rows

    def op(self, ctx, i: int) -> int:
        req = self.requests[i % len(self.requests)]
        pq_rows, bm_rows = self.search(ctx, req["vec_ids"], req["vectors"], req["lexical"])
        self.results.append((i, req, pq_rows, bm_rows))
        return len(req["vec_ids"]) + len(req["lexical"])

    def layout(self) -> dict:
        """{path: size} of every data file of both layouts."""
        out = {}
        for root in (self.pq_path, self.bm_path):
            for d, _sub, files in os.walk(root):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(d, f)
                        out[p] = os.path.getsize(p)
        return out

    # ---------------------------------------------------------- checks

    def check(self, ctx) -> set[int]:
        """Every request's BM25 ranking equals a direct ``bm25_search``
        over the surviving corpus (base minus deletes plus upserts), and
        its IVF-PQ recall@k against exact cosine over the base vectors
        minus deletes meets the floor. A failed maintenance check fails every
        request, since they all read the maintained layouts."""
        ops = {i for i, *_ in self.results}
        if self.maintenance_problems:
            ctx.log(f"retrieve maintenance batch: {self.maintenance_problems[:3]}")
            return ops
        live = [u for u in self.upserted if u not in self.deleted]
        texts = ctx.tables["documents"].column("text").to_pylist()
        survivors = [(i, t) for i, t in enumerate(texts) if i not in self.deleted] + [
            (u, self.upserted[u]["text"]) for u in live]
        lexical = [q for _, req, _, _ in self.results for q in req["lexical"]]
        ref = checks.ranked(BM.bm25_search(
            ctx.spark, ctx.spark.createDataFrame(survivors, DOC_SCHEMA), lexical,
            k=K).collect(), "query_id", "doc_id")
        ids = [i for i in range(len(self.base_vectors)) if i not in self.deleted]
        corpus = self.base_vectors[ids]
        bad: set[int] = set()
        for i, req, pq_rows, bm_rows in self.results:
            problems = checks.same_ranking(
                checks.ranked(bm_rows, "query_id", "doc_id"), ref,
                [q for q, _ in req["lexical"]])
            problems += checks.returned_deleted(bm_rows, "doc_id", self.deleted)
            problems += checks.returned_deleted(pq_rows, "neighbor_id", self.deleted)
            exact = dict(zip(map(str, req["vec_ids"]),
                             checks.exact_topk(ids, corpus, req["vectors"], K)))
            ann = {q: [n for _, n, _ in hits] for q, hits in
                   checks.ranked(pq_rows, "query_id", "neighbor_id").items()}
            r = checks.recall(ann, exact, K)
            self.recalls.append(r)
            if r < checks.RECALL_FLOOR:
                problems.append(f"recall@{K} {r:.2f} < {checks.RECALL_FLOOR}")
            if problems:
                ctx.log(f"retrieve request {i}: {problems[:3]}")
                bad.add(i)
        return bad


class Batch:
    """Each pass builds and collects the six text queries (tokenize,
    shingle shuffles, eager pins) and the six relational queries
    (scan/join/window, no text, no vectors) of the plan registry."""

    name = "batch"

    def __init__(self, ctx) -> None:
        self.queries = plans.all_queries()
        self.first_pass: dict = {}

    def describe(self, ctx) -> dict:
        return datagen.describe(ctx.tables)

    def build(self, ctx) -> None:
        pass

    def open(self, ctx) -> None:
        """Load the tables and answer one light query: a batch session
        has set up once it has answered something."""
        with ctx.tracer.span("catalog.load_table"):
            for t in ("documents", "lineitem", "events", "orders", "part"):
                load_table(ctx.spark, ctx.data_dir, t)
        self.queries["chat_history_topk"](ctx.spark, ctx.data_dir).toPandas()

    def warm(self, ctx) -> None:
        pass   # open() already ran a query

    def op(self, ctx, i: int) -> int:
        tr = ctx.tracer
        for q in BATCH_QUERIES:
            with tr.span(f"plans.{q}.build"):
                df = self.queries[q](ctx.spark, ctx.data_dir)
            with tr.span(f"plans.{q}.exec"):
                pdf = df.toPandas()
            if i == 0:
                self.first_pass[q] = pdf
        return len(BATCH_QUERIES)

    def check(self, ctx) -> set[int]:
        problems = oracle_problems(ctx.data_dir, self.first_pass)
        for q, p in problems.items():
            ctx.log(f"batch {q}: {p[:3]}")
        return {0} if problems else set()


class _Collected:
    """The comparison in tests/oracle_harness.py reads ``toPandas()``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def oracle_problems(data_dir: str, outputs: dict) -> dict:
    """{query: problems} against the registry's DuckDB oracle SQL."""
    from tests.oracle_harness import compare, duck_con

    oracle = plans.all_oracle_sql()
    con = duck_con(data_dir)
    try:
        out = {}
        for q, pdf in outputs.items():
            p = compare(_Collected(pdf), con.sql(oracle[q]).df())
            if p:
                out[q] = p
        return out
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (Retrieve, Batch)}
