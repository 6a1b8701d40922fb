"""multi_match over per-field sub-indexes (best_fields / most_fields).

Pins (a) float-identity of single-field multi_match vs score_topk on
that field's index, (b) both combine types + tie_breaker + field
boosts against a pure-Python oracle (per-field oracle BM25, numpy
combine), (c) per-field statistics (docs missing a field don't count
in that field's n_docs/avgdl), (d) spec validation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_prepper_spark.index.reader import load_stats
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine
from data_prepper_spark.query.multimatch import (
    build_fields_index,
    multi_match_topk,
    parse_field_specs,
)

FIELDS = ["text", "tool"]

DOCS = [
    # (conv serial, text, tool) — tool sparse (None = field absent)
    (0, "timeout error in the search request handler", "search_api"),
    (1, "user asked about slow queries and timeouts", None),
    (2, "retry logic for the bulk indexing path", "bulk_indexer"),
    (3, "error error error cascading failures", "search_api"),
    (4, "completely unrelated cooking recipe content", None),
    (5, "search relevance tuning notes", "search_tuner"),
]
QUERIES = [
    ("m1", "search error", 6),
    ("m2", "timeout", 6),
    ("m3", "search_api bulk", 6),
    ("m4", "zzz nothing", 6),
]


def _docs_df(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"conv-{i}" for i, _, _ in DOCS],
            "turn_idx": [0] * len(DOCS),
            "text": [t for _, t, _ in DOCS],
            "tool": [tl for _, _, tl in DOCS],
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mmidx") / "idx")
    man = build_fields_index(
        spark, _docs_df(spark), d, FIELDS, n_shards=3, block_size=4,
    )
    assert man["fields"] == FIELDS
    return d


def _field_scores(field_vals, queries):
    """Python oracle: field -> {query_id: {doc_serial: score}}."""
    from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

    docs = [
        (i * DOC_ID_STRIDE, v) for (i, *_), v in zip(DOCS, field_vals)
        if v  # per-field stats over docs HAVING the field
    ]
    idx = oracle.build_index(docs)
    out: dict[str, dict[int, float]] = {}
    for qid, qtext, _ in queries:
        rows = oracle.score_queries(idx, [(qid, qtext, 10_000)])
        out[qid] = {r["doc_id"]: r["score"] for r in rows}
    return out


@pytest.fixture(scope="module")
def oracle_scores():
    return {
        "text": _field_scores([t for _, t, _ in DOCS], QUERIES),
        "tool": _field_scores([tl for _, _, tl in DOCS], QUERIES),
    }


def _oracle_mm(oracle_scores, boosts, mm_type, tie_breaker=0.0):
    want: dict[str, dict[int, float]] = {}
    for qid, _, _ in QUERIES:
        per_doc: dict[int, list[float]] = {}
        for f, b in boosts.items():
            for d, s in oracle_scores[f][qid].items():
                per_doc.setdefault(d, []).append(s * b)
        combo = {}
        for d, ss in per_doc.items():
            if mm_type == "most_fields":
                combo[d] = sum(ss)
            else:
                combo[d] = max(ss) + tie_breaker * (sum(ss) - max(ss))
        want[qid] = combo
    return want


def _got(spark, fidx, **kw):
    qdf = spark.createDataFrame(
        QUERIES, "query_id string, query_text string, k int"
    )
    return multi_match_topk(spark, fidx, qdf, **kw).toPandas()


def _check(got, want):
    for qid, g in got.groupby("query_id"):
        w = sorted(
            want[qid].items(), key=lambda kv: (-round(kv[1], 12), kv[0])
        )
        assert list(g.sort_values("rank").doc_id) == [d for d, _ in w], qid
        assert np.allclose(
            g.sort_values("rank").score.values,
            [s for _, s in w], atol=1e-9,
        ), qid
    assert set(got.query_id) == {q for q, _, _ in QUERIES if want[q]}


def test_best_fields_matches_oracle(spark, fidx, oracle_scores):
    got = _got(spark, fidx)  # default: all fields, boost 1, best_fields
    _check(got, _oracle_mm(oracle_scores, {"text": 1.0, "tool": 1.0},
                           "best_fields"))


def test_most_fields_matches_oracle(spark, fidx, oracle_scores):
    got = _got(spark, fidx, mm_type="most_fields")
    _check(got, _oracle_mm(oracle_scores, {"text": 1.0, "tool": 1.0},
                           "most_fields"))


def test_boost_and_tie_breaker(spark, fidx, oracle_scores):
    got = _got(spark, fidx, fields=["text", "tool^2.5"], tie_breaker=0.3)
    _check(got, _oracle_mm(oracle_scores, {"text": 1.0, "tool": 2.5},
                           "best_fields", tie_breaker=0.3))


def test_single_field_float_identity(spark, fidx):
    """multi_match(["text"]) is the SAME float scores as score_topk on
    the text sub-index (shared accumulation order)."""
    import os

    qdf = spark.createDataFrame(
        QUERIES, "query_id string, query_text string, k int"
    )
    mm = multi_match_topk(spark, fidx, qdf, fields=["text"]).toPandas()
    single = engine.score_topk(
        spark, os.path.join(fidx, "fields", "text"), qdf, "exhaustive"
    ).toPandas()
    mm = mm.sort_values(["query_id", "rank"]).reset_index(drop=True)
    single = single.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (mm.doc_id.values == single.doc_id.values).all()
    assert (mm.score.values == single.score.values).all()  # exact floats


def test_per_field_stats(spark, fidx):
    """tool's n_docs counts only docs HAVING tool (Lucene per-field
    statistics)."""
    import os

    s = load_stats(os.path.join(fidx, "fields", "tool"))
    assert s["n_docs"] == sum(1 for _, _, tl in DOCS if tl)


def test_field_spec_validation(spark, fidx):
    assert parse_field_specs(["a", "b^2", "c^0.5"]) == [
        ("a", 1.0), ("b", 2.0), ("c", 0.5)]
    qdf = spark.createDataFrame(
        [("q", "x", 3)], "query_id string, query_text string, k int"
    )
    with pytest.raises(ValueError):
        multi_match_topk(spark, fidx, qdf, fields=["nope"])
    with pytest.raises(ValueError):
        multi_match_topk(spark, fidx, qdf, mm_type="phrase_fields")


def test_cross_fields_matches_oracle(spark, fidx, oracle_scores):
    """cross_fields: per TERM, per-field BM25 under ONE blended idf
    (df/n_docs maxed across fields) dismaxed, then terms summed.
    Brute-forced here from raw tf/dl (the per-field oracle scores
    can't be reused — the idf differs)."""
    import math

    from data_prepper_spark.index.tokenizer import tokenize
    from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

    field_vals = {"text": [t for _, t, _ in DOCS],
                  "tool": [tl for _, _, tl in DOCS]}
    boosts = {"text": 1.0, "tool": 2.0}
    tie = 0.25
    # per-field stats over docs HAVING the field
    stats = {}
    for f, vals in field_vals.items():
        toks = [tokenize(v) for v in vals if v]
        stats[f] = (len(toks), sum(len(t) for t in toks) / len(toks))
    want: dict[str, dict[int, float]] = {}
    for qid, qtext, _ in QUERIES:
        per_doc: dict[int, float] = {}
        for term in sorted(set(tokenize(qtext))):
            dfs = {
                f: sum(1 for v in vals if v and term in tokenize(v))
                for f, vals in field_vals.items()
            }
            dfs = {f: d for f, d in dfs.items() if d}
            if not dfs:
                continue
            df_b = max(dfs.values())
            nd_b = max(stats[f][0] for f in dfs)
            idf = math.log(1.0 + (nd_b - df_b + 0.5) / (df_b + 0.5))
            t_scores: dict[int, list[float]] = {}
            for f, vals in field_vals.items():
                if f not in dfs:
                    continue
                _, avgdl = stats[f]
                for (i, *_), v in zip(DOCS, vals):
                    if not v:
                        continue
                    tks = tokenize(v)
                    tf = tks.count(term)
                    if not tf:
                        continue
                    part = idf * (tf * 2.2) / (
                        tf + 1.2 * (0.25 + 0.75 * len(tks) / avgdl))
                    t_scores.setdefault(i * DOC_ID_STRIDE, []).append(
                        part * boosts[f])
            for d, ss in t_scores.items():
                per_doc[d] = per_doc.get(d, 0.0) + (
                    max(ss) + tie * (sum(ss) - max(ss)))
        want[qid] = per_doc
    got = _got(spark, fidx, fields=["text", "tool^2"],
               mm_type="cross_fields", tie_breaker=tie)
    _check(got, want)


def test_cross_fields_single_field_is_best_fields(spark, fidx):
    """With one field, cross_fields degenerates to best_fields
    (blended stats == the field's stats)."""
    qdf = spark.createDataFrame(
        QUERIES, "query_id string, query_text string, k int"
    )
    a = multi_match_topk(spark, fidx, qdf, fields=["text"],
                         mm_type="cross_fields").toPandas()
    b = multi_match_topk(spark, fidx, qdf, fields=["text"],
                         mm_type="best_fields").toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (a.doc_id.values == b.doc_id.values).all()
    assert (a.score.values == b.score.values).all()


# tool shares query terms with text, and more tool docs hold "timeout":
# cross_fields over ["text"] and over ["text", "tool"] blend a different
# idf for the same text postings
SHARED_DOCS = [
    (0, "timeout error in search", "timeout handler"),
    (1, "slow search timeout", "timeout"),
    (2, "bulk indexing retry", "timeout retry"),
    (3, "error cascade", "search"),
    (4, "cooking recipe", None),
    (5, "search tuning", "timeout search"),
]
# irregular run lengths: with a round-robin pool of reused Python
# workers, each field list lands on a worker the other one used before
XF_ORDER = "ABABBABBBAABAAABBA"


def test_cross_fields_field_list_does_not_alias(spark, tmp_path):
    """The text field's decoded partials carry the blended idf, which
    depends on the queried field list: a second call over another field
    list must not reuse the first call's decodes."""
    import shutil

    pdf = pd.DataFrame({
        "conv_id": [f"conv-{i}" for i, _, _ in SHARED_DOCS],
        "turn_idx": [0] * len(SHARED_DOCS),
        "text": [t for _, t, _ in SHARED_DOCS],
        "tool": [tl for _, _, tl in SHARED_DOCS],
    })
    d = str(tmp_path / "idx")
    build_fields_index(spark, spark.createDataFrame(pdf), d, FIELDS,
                       n_shards=1, block_size=4)
    qdf = spark.createDataFrame(
        [("x1", "timeout search", 6), ("x2", "error retry timeout", 6)],
        "query_id string, query_text string, k int",
    )
    lists = {"A": ["text"], "B": ["text", "tool"]}

    def run(idx, fields):
        return (multi_match_topk(spark, idx, qdf, fields=fields,
                                 mm_type="cross_fields").toPandas()
                .sort_values(["query_id", "rank"]).reset_index(drop=True))

    want = {}
    for name, fields in lists.items():
        copy = str(tmp_path / f"copy_{name}")
        shutil.copytree(d, copy)
        want[name] = run(copy, fields)
    assert not want["A"].equals(want["B"])  # the blend matters
    for i, name in enumerate(XF_ORDER):
        got = run(d, lists[name])
        pd.testing.assert_frame_equal(got, want[name], obj=f"call {i} {name}")


@pytest.mark.parametrize("mm_type", ["best_fields", "cross_fields"])
def test_both_sites_and_a_uri_answer_alike(spark, fidx, mm_type, monkeypatch):
    """multi_match answers the same on the driver scatter site, on the
    Spark site (no pruned input small enough for the driver) and over
    the fields index named by a file:// URI: fields.json and every
    field's sub-index are read through the filesystem the URI names."""
    from pathlib import Path

    def ranked(idx):
        return _got(spark, idx, fields=["text", "tool^2"], mm_type=mm_type,
                    tie_breaker=0.3).sort_values(["query_id", "rank"]) \
            .reset_index(drop=True)

    driver = ranked(fidx)
    assert len(driver)
    pd.testing.assert_frame_equal(ranked(Path(fidx).as_uri()), driver)
    monkeypatch.setattr(engine, "LOCAL_MAX_BLOCKS", 0)
    pd.testing.assert_frame_equal(ranked(fidx), driver)
