"""constant_score / ids query (query/simple.py) + a hypothesis fuzz of
rrf_fuse against a pure-Python oracle over random rankings."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_prepper_spark.index import build as ib
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.query import hybrid as hy
from data_prepper_spark.query import simple as sq

_DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha delta"),
    (2, "beta epsilon"),
    (3, "zeta eta theta"),
    (4, "alpha beta"),
]


@pytest.fixture(scope="module")
def cs_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cs") / "idx")
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    ib.build_index(spark, df, d, n_shards=2, block_size=8, assign_ids=False)
    return d, df


def test_constant_score(spark, cs_index):
    d, _ = cs_index
    q = spark.createDataFrame(
        [("q1", "alpha"), ("q2", "beta zeta"), ("q3", "nothing_matches_zz")],
        "query_id string, query_text string",
    )
    out = sq.constant_score_topk(spark, d, q, boost=2.5).collect()
    got = {}
    for r in out:
        assert r["score"] == 2.5
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    # match semantics: any analyzed term; rank = doc_id ascending
    assert sorted(got["q1"]) == [(1, 0), (2, 1), (3, 4)]
    assert sorted(got["q2"]) == [(1, 0), (2, 2), (3, 3), (4, 4)]
    assert "q3" not in got
    # k cut
    cut = sq.constant_score_topk(spark, d, q, k=2).collect()
    per_q = {}
    for r in cut:
        per_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert sorted(per_q["q2"]) == [0, 2]


def test_ids_query(spark, cs_index):
    _, docs = cs_index
    out = sq.ids_query(docs, [1, 3, 99]).collect()
    assert {r["doc_id"] for r in out} == {1, 3}
    assert all(r["score"] == 1.0 for r in out)
    assert sq.ids_query(docs, []).count() == 0


def test_ids_query_pushdown(spark, cs_index, tmp_path):
    _, docs = cs_index
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    plan = (
        sq.ids_query(spark.read.parquet(p), [1, 3])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [In(doc_id" in plan


# ---------------------------------------------------------- RRF fuzz

@st.composite
def _rankings(draw):
    n_lists = draw(st.integers(2, 4))
    out = []
    for _ in range(n_lists):
        docs = draw(
            st.lists(st.integers(0, 30), min_size=1, max_size=12,
                     unique=True)
        )
        out.append([(doc, i + 1) for i, doc in enumerate(docs)])
    weights = draw(
        st.lists(
            st.floats(0.1, 5.0, allow_nan=False, allow_infinity=False),
            min_size=n_lists, max_size=n_lists,
        )
    )
    rc = draw(st.integers(1, 100))
    k = draw(st.integers(1, 10))
    return out, weights, rc, k


@settings(max_examples=15, deadline=None)
@given(_rankings())
def test_rrf_fuzz_matches_python(spark, case):
    rankings, weights, rc, k = case
    # from pandas: Arrow makes each ranking a LocalRelation, while a
    # list of tuples is a parallelized RDD whose every slice costs a
    # Python worker round trip when the fused plan runs
    dfs = [
        spark.createDataFrame(
            pd.DataFrame({"query_id": "q",
                          "doc_id": [doc for doc, _ in lst],
                          "rank": [rk for _, rk in lst]}),
            "query_id string, doc_id long, rank int",
        )
        for lst in rankings
    ]
    got = {
        (r["doc_id"]): (r["rrf_score"], r["rank"])
        for r in hy.rrf_fuse(dfs, k=k, rank_constant=rc,
                             weights=weights).collect()
    }
    contrib: dict[int, float] = {}
    for lst, w in zip(rankings, weights):
        for doc, rk in lst:
            contrib[doc] = contrib.get(doc, 0.0) + w / (rc + rk)
    exp = sorted(contrib.items(), key=lambda t: (-t[1], t[0]))[:k]
    assert sorted(got) == sorted(doc for doc, _ in exp)
    for i, (doc, sc) in enumerate(exp):
        assert got[doc][0] == pytest.approx(sc, rel=1e-12)
        assert got[doc][1] == i + 1
