"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _requests_equal(a, b) -> bool:
    return all(
        x["vec_ids"] == y["vec_ids"] and x["lexical"] == y["lexical"]
        and np.array_equal(x["vectors"], y["vectors"])
        for x, y in zip(a, b)
    ) and len(a) == len(b)


def test_generator_is_deterministic_per_seed():
    t1, t2, t3 = datagen.make_tables(5), datagen.make_tables(5), datagen.make_tables(6)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["documents"].equals(t3["documents"])
    assert _requests_equal(datagen.retrieve_requests(5, t1, 20),
                           datagen.retrieve_requests(5, t2, 20))
    assert not _requests_equal(datagen.retrieve_requests(5, t1, 20),
                               datagen.retrieve_requests(6, t3, 20))
    b1, b2 = datagen.maintenance_batch(5, t1), datagen.maintenance_batch(5, t2)
    assert b1["deletes"] == b2["deletes"]
    assert [u["text"] for u in b1["upserts"]] == [u["text"] for u in b2["upserts"]]


def test_generator_records_input_properties():
    t = datagen.make_tables(3)
    reqs = datagen.retrieve_requests(3, t, 10)
    d = datagen.describe(t, requests=reqs, batch=datagen.maintenance_batch(3, t))
    lex = d["lexical"]
    assert lex["rare_term_share"] == pytest.approx(2 / 3, abs=1e-3)
    assert lex["rare_term_mean_df_share"] < 0.1 < lex["common_term_mean_df_share"]
    assert d["delete_share"] == datagen.DELETE_BATCH / datagen.UPSERT_BATCH
    # every lexical query term occurs in the corpus, so no request is empty
    vocab = {w for s in t["documents"].column("text").to_pylist() for w in s.split()}
    assert all(w in vocab for r in reqs for _, q in r["lexical"] for w in q.split())


def test_printed_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    workloads = pytest.importorskip("workloads")
    assert tuple(workloads.WORKLOADS) == run.WORKLOADS


def _rank_rows(qid, ids, idcol="doc_id"):
    return [{"query_id": qid, idcol: i, "rank": r + 1, "score": 10.0 - r}
            for r, i in enumerate(ids)]


def test_dropped_row_is_an_error():
    want = checks.ranked(_rank_rows("q", [3, 1, 4]), "query_id", "doc_id")
    got = checks.ranked(_rank_rows("q", [3, 1]), "query_id", "doc_id")
    assert checks.same_ranking(want, want, ["q"]) == []
    assert checks.same_ranking(got, want, ["q"])


def test_returned_deleted_id_is_an_error():
    expected, deleted = {"q100": 100, "q101": 101}, {7, 102}
    bm = _rank_rows("q100", [100, 5]) + _rank_rows("q101", [101])
    pq = (_rank_rows("q100", [100, 9], "neighbor_id")
          + _rank_rows("q101", [101], "neighbor_id"))
    assert checks.maintenance(bm, pq, expected, deleted, ["mark102"]) == []
    pq_bad = pq + _rank_rows("q7", [7], "neighbor_id")
    assert checks.maintenance(bm, pq_bad, expected, deleted, ["mark102"])
    bm_gone = bm + _rank_rows("mark102", [102])
    assert checks.maintenance(bm_gone, pq, expected, deleted, ["mark102"])
    bm_lost = _rank_rows("q100", [5, 100]) + bm[2:]
    assert checks.maintenance(bm_lost, pq, expected, deleted, ["mark102"])


def test_low_recall_is_an_error():
    rng = np.random.default_rng(0)
    corpus = rng.standard_normal((50, 8))
    exact = dict(zip(["a", "b"], checks.exact_topk(range(50), corpus, corpus[:2], 5)))
    assert checks.recall(exact, exact, 5) == 1.0
    ann = {q: ids[:3] + [98, 99] for q, ids in exact.items()}
    assert checks.recall(ann, exact, 5) < checks.RECALL_FLOOR


def test_batch_output_with_a_dropped_row_fails_the_oracle(tmp_path):
    pytest.importorskip("duckdb")
    workloads = pytest.importorskip("workloads")
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import plans
    from tests.oracle_harness import duck_con

    datagen.write_tables(datagen.make_tables(2), str(tmp_path))
    con = duck_con(str(tmp_path))
    good = con.sql(plans.all_oracle_sql()["pricing_summary"]).df()
    con.close()
    assert workloads.oracle_problems(str(tmp_path), {"pricing_summary": good}) == {}
    bad = workloads.oracle_problems(str(tmp_path), {"pricing_summary": good.iloc[1:]})
    assert bad["pricing_summary"]
